"""Driver heap sizing: ~1 GB per concurrent task, as `session.py`
documents. The heap is pre-touched (Xms=Xmx), so a fixed floor commits
its whole size in every session — a test that starts a child session
beside the shared one must fit both.

The rule is checked as a function of the master string and the
environment; only the last test reads the shared session's conf.
"""

from __future__ import annotations

import os

import pytest

from searchengine_spark.session import (
    CLUSTER_HEAP_CORES,
    driver_memory,
    master_cores,
)


@pytest.mark.parametrize(
    "master, heap",
    [("local[2]", "2g"), ("local[4]", "4g"), ("local[32]", "32g")],
)
def test_heap_is_one_gb_per_local_core(master, heap):
    assert driver_memory(master, env={}) == heap


def test_every_local_master_form_resolves_its_task_slots():
    host = len(os.sched_getaffinity(0))
    assert master_cores("local") == 1
    assert master_cores("local[*]") == host
    assert master_cores("local[4,2]") == 4
    assert master_cores("local[*, 3]") == host
    assert driver_memory("local", env={}) == "1g"
    assert driver_memory("local[*]", env={}) == f"{host}g"
    assert driver_memory("local[4,2]", env={}) == "4g"


def test_cluster_masters_keep_the_fallback():
    for master in ("yarn", "spark://host:7077", "k8s://https://api:6443",
                   "local-cluster[2,1,1024]"):
        assert master_cores(master) == CLUSTER_HEAP_CORES
        assert driver_memory(master, env={}) == f"{CLUSTER_HEAP_CORES}g"


def test_spark_driver_mem_wins():
    env = {"SPARK_DRIVER_MEM": "3g"}
    for master in ("local[2]", "local[32]", "local", "local[*]", "yarn"):
        assert driver_memory(master, env=env) == "3g"


def test_session_uses_the_rule(spark):
    conf = spark.sparkContext.getConf()
    heap = driver_memory(spark.sparkContext.master)
    assert conf.get("spark.driver.memory") == heap
    assert f"-Xms{heap}" in conf.get("spark.driver.extraJavaOptions")
