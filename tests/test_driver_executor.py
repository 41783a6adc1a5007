"""The two executors of a collected packed read (index/wand._shard_rows):
kernels on the driver for a read whose input bound is ≤
segments.DRIVER_READ_BYTES_MAX, the applyInPandas plan otherwise.
Both must serve identical responses, counts, rankings and explain
counters, keep the cogroup's per-shard semantics, and stay correct when
service threads run driver kernels concurrently; the bound must hold
for the rows a read really collects."""

from __future__ import annotations

import sys
import threading

import numpy as np
import pandas as pd
import pytest

from searchengine_spark.index.positional import (
    build_positional_segments,
    write_positional_segments,
)
from searchengine_spark.index import wand
from searchengine_spark.index.segments import (
    DRIVER_READ_BYTES_MAX,
    Packed,
    ReadSizes,
    build_segments,
    side_frame,
    write_segments,
)
from searchengine_spark.index.wand import (
    _NO_IDS,
    _shard_rows,
    match_count_packed,
    site_map_frame,
    term_pruned_segments,
    wand_shard,
)
from searchengine_spark.operators.postings import (
    materialize_index,
    prepare_docs,
)
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.service import SearchService
from searchengine_spark.sources.corpus import corpus_df

EXPLAIN_EXECUTOR_FIELDS = ("executor", "input_bytes_bound")


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    """A production-layout index (materialize_index + build_segments,
    positional runs, materialized docs_text) served with a delta page
    landed and two docs tombstoned; response cache off."""
    base = str(tmp_path_factory.mktemp("executors") / "index")
    docs = corpus_df(spark, 160)
    idx = materialize_index(spark, docs, f"{base}/idx", use_html=True)
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=4),
                   f"{base}/segments")
    prepared = prepare_docs(docs, use_html=True)
    write_positional_segments(
        build_positional_segments(prepared.select("doc_id", "lemmas"), 4),
        f"{base}/possegs",
    )
    prepared.select("doc_id", "text").write.parquet(f"{base}/docs_text")
    svc = SearchService(spark, base,
                        docs_text=spark.read.parquet(f"{base}/docs_text"),
                        cache_responses=False)
    # a delta page of known terms (быстрый, поиск) and a new one
    svc.index_page("https://site2.example/delta-exec",
                   text="быстрый поиск по индексу дельтастраница")
    victims = [r["url"] for r in svc.search("быстрый поиск",
                                            conjunctive=False,
                                            limit=4)["data"][1:3]]
    for url in victims:
        assert svc.delete_page(url)["result"]
    assert svc._gen.tombstoned and len(svc._gen.tombstoned) == 2
    yield svc
    svc.close()


def _sweep(svc) -> list:
    """Every collected read the service serves over the packed index."""
    q = "быстрый поиск"
    out = []
    p1 = svc.search(q, limit=5, conjunctive=False)
    out.append(p1)
    out.append(svc.search(q, offset=5, limit=5, conjunctive=False))
    last = p1["data"][-1]
    out.append(svc.search(q, limit=5, conjunctive=False,
                          after=(last["relevance"], last["doc_id"])))
    out.append(svc.search("запрос страница", site="site3.example"))
    out.append(svc.search(q, mode="bm25f", conjunctive=False, limit=8))
    out.append(svc.search("быстрый^3 поиск", conjunctive=False, limit=8))
    col = svc.search(q, collapse=1, conjunctive=False, limit=4)
    out.append(col)
    last = col["data"][-1]
    out.append(svc.search(q, collapse=1, conjunctive=False, limit=4,
                          after=(last["relevance"], last["doc_id"]),
                          after_sites=col["site_counts"]))
    out.append(svc.search("дельтастраница"))
    out.append(match_count_packed(
        svc.spark, svc._gen.tf(), svc.term_stats, svc.n_docs, q,
        conjunctive=False, df_map=svc._gen.df_map,
        excluded_doc_ids=svc._gen.tombstoned, sizes=svc._gen.read_sizes,
    ))
    out.append(svc.boolean("быстрый AND NOT поиск"))
    out.append(svc.boolean("(быстрый OR индекс) AND поиск",
                           site="site3.example"))
    out.append(svc.phrase(q))
    out.append(svc.phrase("поиск по индексу"))
    for kw in ({}, {"conjunctive": False}, {"site": "site3.example"}):
        out.append(svc.explain(q, **kw))
    return out


def _without_executor(resp):
    if isinstance(resp, dict):
        return {k: v for k, v in resp.items()
                if k not in EXPLAIN_EXECUTOR_FIELDS}
    return resp


def test_driver_and_spark_executors_agree(lifecycle, monkeypatch):
    svc = lifecycle
    driver = _sweep(svc)
    with monkeypatch.context() as m:
        m.setattr(wand, "DRIVER_READ_BYTES_MAX", -1)  # every read on Spark
        distributed = _sweep(svc)
    assert driver[0]["data"] and driver[-1]["shards"] > 0
    assert [_without_executor(r) for r in driver] == [
        _without_executor(r) for r in distributed
    ]
    explains = [r for r in driver if isinstance(r, dict) and "executor" in r]
    assert explains and all(r["executor"] == "driver" for r in explains)
    assert all(0 < r["input_bytes_bound"] <= DRIVER_READ_BYTES_MAX
               for r in explains)
    assert all(r["executor"] == "spark" for r in distributed
               if isinstance(r, dict) and "executor" in r)


def test_input_bound_covers_collected_rows(lifecycle):
    """The bound is an upper bound on the Arrow bytes a read's kernels
    receive — its segment rows and its side frame (the tree's doc
    tables, plus a site side) — for TF and positional reads, delta
    runs included: the delta page's postings of known terms count
    although they leave the pruning df as it was, and its own doc
    tables count in the table rows."""
    svc = lifecycle
    g = svc._gen
    sizes = g.read_sizes
    assert sizes.postings["поиск"] > g.df_map["поиск"]
    assert sizes.side_rows == g.serve_meta.count()
    svc.phrase("быстрый поиск")  # opens the positional runs
    tf, pos = g.tf(), svc._positional(g)[0]
    for tree in (tf, pos):
        # every run's table is counted, the delta page's included
        assert tree.table_rows == tree.docs.count()
        assert tree.docs.filter("run_id > 0").count() >= 1
    for terms in (["быстрый", "поиск"], ["индекс"], ["дельтастраница"]):
        got = (term_pruned_segments(tf.rows, terms).toArrow().nbytes
               + side_frame(tf.docs, None).toArrow().nbytes)
        assert 0 < got <= sizes.input_bytes(terms, table_rows=tf.table_rows)
        got = (term_pruned_segments(pos.rows, terms).toArrow().nbytes
               + side_frame(pos.docs, None).toArrow().nbytes)
        assert 0 < got <= sizes.input_bytes(
            terms, positional=True, table_rows=pos.table_rows)
    site_map = site_map_frame(g.serve_meta, g.n_shards)
    assert side_frame(tf.docs, site_map).toArrow().nbytes <= (
        sizes.input_bytes([], side=True, table_rows=tf.table_rows))


def test_explain_executor_without_terms(lifecycle):
    out = lifecycle.explain("и в на")  # stop words only: nothing runs
    assert out["executor"] is None and out["input_bytes_bound"] == 0


def _group_jobs(spark, group: str) -> int:
    """Spark jobs attributed to a job group so far (the listener bus
    drained first — statusTracker is fed asynchronously)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_kernel_runs_one_job(spark, lifecycle, monkeypatch):
    """A warm page-1 search's kernel call is ONE Spark job on the driver
    executor (the Arrow collect of the term-pruned scan) — the
    applyInPandas plan runs two (shuffle map + result)."""
    import searchengine_spark.service as service

    svc = lifecycle
    sc = spark.sparkContext
    fused = service.search_packed_fused
    kernel_jobs = []

    def traced(*a, **k):
        j0 = _group_jobs(spark, group)
        out = fused(*a, **k)
        kernel_jobs.append(_group_jobs(spark, group) - j0)
        return out

    svc.search("быстрый поиск", conjunctive=False)  # warm
    monkeypatch.setattr(service, "search_packed_fused", traced)
    group = "driver-kernel-jobs"
    sc.setJobGroup(group, "driver kernel job count")
    try:
        resp = svc.search("быстрый поиск", conjunctive=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert resp["data"]
    assert kernel_jobs[-1] == 1


def test_concurrent_driver_kernels_match_serial(lifecycle):
    """8 client threads run driver kernels in one process at once: every
    response equals the serial response."""
    svc = lifecycle
    reqs = [
        ("search", "быстрый поиск", {"conjunctive": False, "limit": 7}),
        ("search", "быстрый поиск", {}),
        ("search", "запрос страница", {"site": "site3.example"}),
        ("search", "индекс", {"collapse": 1}),
        ("boolean", "быстрый AND NOT поиск", {}),
        ("boolean", "быстрый OR индекс", {"site": "site1.example"}),
        ("phrase", "быстрый поиск", {}),
        ("phrase", "поиск по индексу", {"limit": 3}),
    ]

    def run(kind, q, kw):
        return getattr(svc, kind)(q, **kw)

    serial = [run(*r) for r in reqs]
    got: dict[int, list] = {}
    errors: list[BaseException] = []

    def client(t: int):
        try:
            # each thread walks the list from its own starting point so
            # different kernels overlap
            got[t] = [run(*reqs[(t + i) % len(reqs)])
                      for i in range(len(reqs))]
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(t,)) for t in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the kernels' Python finely
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert len(got) == 8
    for t, resps in got.items():
        for i, resp in enumerate(resps):
            assert resp == serial[(t + i) % len(reqs)], (t, i)


def test_shared_empty_ids_read_only():
    with pytest.raises(ValueError):
        _NO_IDS[...] = 0
    with pytest.raises(ValueError):
        _NO_IDS.resize(3)


def test_driver_rows_keep_cogroup_semantics(spark):
    """_shard_rows on the driver calls the kernel exactly as the cogroup
    does: once per shard with segment rows or side rows, with the
    shard's doc tables; a shard with segment rows but no side rows gets
    an EMPTY side frame (None would mean "no filter"), a shard with
    only side rows an empty segment frame, and a shard with doc tables
    only no call. Both executors return the same rows."""
    rows = spark.createDataFrame(
        [("a", 0, 1), ("b", 0, 2), ("a", 1, 3), ("c", 1, 9)],
        "term string, shard int, df long",
    )
    docs = spark.createDataFrame(
        [(0, 0, 5, 1, 0), (0, 1, 6, 1, 0), (1, 0, 7, 1, 0), (3, 0, 8, 1, 0)],
        "shard int, run_id int, doc_id long, doclen long, tlen long",
    )
    segments = Packed(rows, docs, docs.count())
    side = spark.createDataFrame(
        [(0, 10), (2, 30), (2, 31)], "shard int, doc_id long"
    )
    schema = "seg_rows long, side_rows long, df_sum long, runs long"

    def kernel(seg_pdf: pd.DataFrame, tables: dict,
               side_pdf: pd.DataFrame | None):
        assert side_pdf is not None
        return pd.DataFrame({"seg_rows": [len(seg_pdf)],
                             "side_rows": [len(side_pdf)],
                             "df_sum": [int(seg_pdf["df"].sum())],
                             "runs": [len(tables)]})

    def calls(rows):
        return sorted(tuple(r[c] for c in ("seg_rows", "side_rows", "df_sum",
                                           "runs"))
                      for r in rows)

    local, where, _ = _shard_rows(segments, ["a", "b"], kernel, schema,
                                  side=side, sizes=ReadSizes({}, {}))
    assert where == "driver"
    remote, where, _ = _shard_rows(segments, ["a", "b"], kernel, schema,
                                   side=side, sizes=None)
    assert where == "spark"
    # shard 0: 2 segment rows + 1 side row, 2 runs' tables; shard 1: 1
    # segment row (the term filter drops "c") + an empty side; shard
    # 2: side rows only; shard 3: a doc table only — no call
    assert calls(local) == calls(remote) == [
        (0, 2, 0, 0), (1, 0, 3, 1), (2, 1, 3, 2)]


def test_side_only_shard_yields_zero_trailer():
    """The WAND kernel on a shard with side rows but no segment rows
    emits just one all-zero trailer."""
    empty = pd.DataFrame({"term": pd.Series([], dtype=object),
                          "shard": pd.Series([], dtype="int32")})
    out = wand_shard(empty, {}, 10, 1.0, 5, conjunctive=True, n_terms=1,
                     allowed=np.array([3, 4], dtype=np.int64))
    assert len(out) == 1 and bool(out["is_trailer"].iloc[0])
    assert not out.drop(columns="is_trailer").to_numpy().any()
