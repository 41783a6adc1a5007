"""Kill/resume test (SURVEY.md §5.2 item 6): crash the checkpointed
packed-index build mid-way, restart, and assert (a) completed groups
are skipped, (b) the final segments equal a non-checkpointed build,
(c) the manifest has exactly one 'done' row per group with sane
metrics."""

import numpy as np
import pytest

from searchengine_spark.index.manifest import (
    build_packed_resumable,
    completed_groups,
    read_manifest,
)
from searchengine_spark.index.segments import build_segments
from searchengine_spark.operators.postings import build_index
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.sources.corpus import corpus_df

N_DOCS = 300
N_SHARDS = 8
N_GROUPS = 4


@pytest.fixture(scope="module")
def index(spark):
    idx = build_index(corpus_df(spark, N_DOCS), use_html=True)
    idx.postings.cache().count()
    idx.term_stats.cache().count()
    idx.doc_stats.cache().count()
    return idx


def _canon_segments(tree):
    rows = tree.rows.select(
        "term", "shard", "n_docs", "df", "doc_ids", "tfs", "tfs_title"
    ).collect()
    return sorted(
        (r["term"], r["shard"], r["n_docs"], r["df"],
         bytes(r["doc_ids"]).hex(), bytes(r["tfs"]).hex(),
         bytes(r["tfs_title"]).hex())
        for r in rows
    ), sorted(tuple(r) for r in tree.docs.select(
        "shard", "run_id", "doc_id", "doclen", "tlen").collect())


def test_kill_resume_identical_index(spark, tmp_path):
    idx = build_index(corpus_df(spark, N_DOCS), use_html=True)
    n, avgdl = corpus_constants(idx.doc_stats)
    base = str(tmp_path / "build")

    # pass 1: crash after group 1
    with pytest.raises(RuntimeError, match="injected failure"):
        build_packed_resumable(
            spark, idx, base, n, avgdl, n_shards=N_SHARDS,
            n_groups=N_GROUPS, fail_after_group=1,
        )
    done = completed_groups(spark, base, "pack_segments")
    assert done == {0, 1}

    # pass 2: resume — only groups 2..3 rebuild
    segs = build_packed_resumable(
        spark, idx, base, n, avgdl, n_shards=N_SHARDS, n_groups=N_GROUPS
    )

    manifest = read_manifest(spark, base)
    rows = manifest.filter(manifest.status == "done").collect()
    assert sorted(r["group_id"] for r in rows) == list(range(N_GROUPS))
    assert all(r["n_segments"] > 0 for r in rows)
    assert all(r["n_postings"] > 0 for r in rows)
    assert all(r["bytes_written"] > 0 for r in rows)
    assert all(r["finished_at"] >= r["started_at"] for r in rows)

    # identical to a one-shot build
    oneshot = build_segments(idx, n, avgdl, n_shards=N_SHARDS)
    assert _canon_segments(segs) == _canon_segments(oneshot)

    # total postings accounted for exactly once
    total = sum(r["n_postings"] for r in rows)
    assert total == idx.postings.count()


def test_resume_is_noop_when_complete(spark, tmp_path, index):
    n, avgdl = corpus_constants(index.doc_stats)
    base = str(tmp_path / "b2")
    build_packed_resumable(
        spark, index, base, n, avgdl, n_shards=N_SHARDS, n_groups=N_GROUPS
    )
    m1 = read_manifest(spark, base).count()
    build_packed_resumable(
        spark, index, base, n, avgdl, n_shards=N_SHARDS, n_groups=N_GROUPS
    )
    m2 = read_manifest(spark, base).count()
    assert m1 == m2 == N_GROUPS


def test_read_manifest_resolves_uri_paths(spark, index, tmp_path):
    """ADVICE r2: manifest existence must resolve through the Hadoop
    FileSystem API — a file:-scheme base (any URI base) with a real
    manifest must NOT read as empty, or the shard-mapping resume guard
    is silently bypassed exactly where clusters run."""
    n, avgdl = corpus_constants(index.doc_stats)
    base = str(tmp_path / "uri_build")
    build_packed_resumable(
        spark, index, base, n, avgdl, n_shards=N_SHARDS, n_groups=2,
    )
    plain = read_manifest(spark, base)
    via_uri = read_manifest(spark, f"file:{base}")
    assert plain.count() == via_uri.count() > 0
    # and a genuinely absent URI base still reads as empty, not an error
    assert read_manifest(spark, f"file:{tmp_path}/nope").count() == 0


def _all_columns(df):
    """Every segment column (binary streams as hex, arrays as tuples)
    — byte-level equality, field layer and avgtl included."""
    def canon(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        if isinstance(v, list):
            return tuple(v)
        return v

    cols = df.columns
    return sorted(
        tuple(canon(r[c]) for c in cols) for r in df.select(*cols).collect()
    )


def test_resumable_equals_build_segments_materialized(spark, tmp_path):
    """Production layout: a materialize_index index carries doclen and
    the title field in-row. The resumable build must pack it with the
    same enrich step and bulk pack as build_segments — the same
    segment rows and doc tables, byte for byte, including the BM25F
    field layer and a non-zero avgtl."""
    from searchengine_spark.operators.postings import materialize_index

    idx = materialize_index(
        spark, corpus_df(spark, N_DOCS), str(tmp_path / "idx"),
        use_html=True,
    )
    assert "doclen" in idx.postings.columns  # the in-row layout
    n, avgdl = corpus_constants(idx.doc_stats)
    segs = build_packed_resumable(
        spark, idx, str(tmp_path / "build"), n, avgdl,
        n_shards=N_SHARDS, n_groups=N_GROUPS,
    )
    oneshot = build_segments(idx, n, avgdl, n_shards=N_SHARDS)
    for part in ("rows", "docs"):
        got, want = getattr(segs, part), getattr(oneshot, part)
        assert sorted(got.columns) == sorted(want.columns)
        assert _all_columns(got) == _all_columns(want.select(*got.columns))
    avgtl = {r["avgtl"]
             for r in segs.rows.select("avgtl").distinct().collect()}
    assert len(avgtl) == 1 and avgtl.pop() > 0.0


def test_cli_build_query_compact_query(tmp_path):
    """The documented spark-submit chain, each step in its own
    process: build_index.py --synthetic (materialized index, resumable
    pack) → query.py → compact.py → query.py, the queries before and
    after compaction answering identically, in the packed, boolean and
    prefix modes."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g",
               PYTHONPATH=repo)
    out = str(tmp_path / "cli")

    def run(script, *args):
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "scripts", script), *args],
            env=env, capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        return proc.stdout

    run("build_index.py", "--synthetic", "200", "--output", out,
        "--n-groups", "2", "--n-shards", "2")
    queries = [
        ("query.py", "--index", out, "--query", "быстрый поиск",
         "--disjunctive", "--k", "5"),
        ("query.py", "--index", out, "--mode", "boolean", "--query",
         "(быстрый OR индекс) AND NOT данные", "--k", "5"),
        ("query.py", "--index", out, "--mode", "prefix", "--query", "по",
         "--k", "5"),
    ]
    before = [run(*q).splitlines() for q in queries]
    run("compact.py", "--index", out)
    after = [run(*q).splitlines() for q in queries]
    assert before[0][-1].startswith("-- 5 results")
    for b, a in zip(before, after):
        assert b[-1].startswith("-- ") and len(b) > 1, b
        assert b[:-1] == a[:-1]
