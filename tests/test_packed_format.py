"""The packed format on disk: every byte a build writes lives in the
trees perfbench counts (`dir_bytes` over idx, segments and possegs),
the doc tables hide from a plain read of their tree, scripts/index_bytes
reports the same bytes, and a tree in the earlier layout (doc-id gap
streams with per-posting doclens, no doc table) refuses to open."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from searchengine_spark.index import varbyte as vb
from searchengine_spark.index.positional import (
    build_positional_segments,
    write_positional_segments,
)
from searchengine_spark.index.segments import (
    DOCS_DIR,
    build_segments,
    read_packed,
    write_segments,
)
from searchengine_spark.operators.postings import (
    materialize_index,
    prepare_docs,
)
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.service import SearchService
from searchengine_spark.sources.corpus import corpus_df

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_bytes(*paths: str) -> int:
    """perfbench/run.py's dir_bytes."""
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(d, f)) for f in files
                if not f.startswith((".", "_"))
            )
    return total


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """An index built the way perfbench builds one."""
    base = str(tmp_path_factory.mktemp("format") / "index")
    docs = corpus_df(spark, 60)
    idx = materialize_index(spark, docs, f"{base}/idx", use_html=True)
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=2),
                   f"{base}/segments")
    prepared = prepare_docs(docs, use_html=True)
    write_positional_segments(
        build_positional_segments(prepared.select("doc_id", "lemmas"), 2),
        f"{base}/possegs",
    )
    return base


def test_build_writes_only_counted_trees(spark, built):
    assert sorted(os.listdir(built)) == ["idx", "possegs", "segments"]
    for tree in ("segments", "possegs"):
        docs = os.path.join(built, tree, DOCS_DIR)
        data = [f for _, _, fs in os.walk(docs) for f in fs
                if f.endswith(".parquet")]
        # the doc tables' data files are counted by dir_bytes
        assert data and not [f for f in data if f.startswith((".", "_"))]
        assert _dir_bytes(docs) > 0
    # a plain read of a tree yields its segment rows only
    seg = spark.read.parquet(f"{built}/segments")
    assert {"term", "n_docs", "run_id"} <= set(seg.columns)
    assert "doclen" not in seg.columns
    tree = read_packed(spark, f"{built}/segments")
    assert seg.count() == tree.rows.count()
    assert tree.docs.count() == spark.read.parquet(
        f"{built}/idx/doc_stats").count()


def test_index_bytes_report(built):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "index_bytes.py"),
         built],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    rep = json.loads(out[-1])
    trees = [f"{built}/{t}" for t in ("idx", "segments", "possegs")]
    assert rep["bytes"] == _dir_bytes(*trees)
    seg = rep["trees"]["segments"]["tables"]
    assert {"segments", f"segments/{DOCS_DIR}"} <= set(seg)
    assert seg["segments"]["columns"]["doc_ids"] > 0
    for tree in ("segments", "possegs"):
        s = rep["id_stream_bytes_per_posting"][tree]
        # rank gaps: about a byte per posting, never an 8-byte id's worth
        assert s["postings"] > 0 and 0 < s["per_posting"] < 3
    assert any(line.startswith("id stream segments:") for line in out)


def _old_layout_tree(path: str, positional: bool) -> None:
    """A tree in the earlier layout: doc-id gap streams, doclens in
    every row, no doc table, no format marker."""
    ids = np.array([-(2**62), 17, 2**61], dtype=np.int64)
    u = ids.view(np.uint64) + np.uint64(1 << 63)
    gaps = np.diff(u, prepend=np.uint64(0))
    row = {
        "term": ["поиск"], "run_id": [0], "n_docs": [3],
        "doc_ids": [vb.varbyte_encode(gaps)],
        "block_last_doc": [[int(ids[-1])]],
    }
    if positional:
        row.update(counts=[vb.encode_ints(np.ones(3))],
                   positions=[vb.encode_ints(np.zeros(3))],
                   block_off_pos=[[0]])
    else:
        row.update(df=[3], tfs=[vb.encode_ints(np.ones(3))],
                   doclens=[vb.encode_ints(np.full(3, 9))],
                   block_max_score=[[1.0]], block_off_ids=[[0]],
                   block_off_tfs=[[0]], block_off_dls=[[0]])
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(f"{path}/shard=0")
    pq.write_table(pa.table(row), f"{path}/shard=0/part-0.parquet")
    open(f"{path}/_SUCCESS", "w").close()


def test_old_layout_refuses_to_open(spark, built, tmp_path):
    base = str(tmp_path / "old")
    shutil.copytree(built, base)
    for tree, positional in (("segments", False), ("possegs", True)):
        _old_layout_tree(f"{base}/{tree}", positional)
        with pytest.raises(ValueError, match="rebuild"):
            read_packed(spark, f"{base}/{tree}")
    with pytest.raises(ValueError, match="rebuild"):
        SearchService(spark, base)
