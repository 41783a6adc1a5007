"""The one pack driver (index/segments._pack_walk) under every packed
writer besides the TF pack (tests/test_segments_wand.py pins that one):
the positional build, the positional repack and merge_runs, with Arrow
batches of 7 rows so that most (term, shard) groups span batches. Each
output column equals a pandas groupby running the same per-group body."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.index import positional as POS
from searchengine_spark.index import segments as SG
from searchengine_spark.operators.postings import (
    build_index,
    prepare_docs,
    prepare_docs_counts,
)
from searchengine_spark.operators.search import corpus_constants

BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
N_SHARDS = 3


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _rows(rows, cols) -> dict:
    """{(term, shard): (every column)} of Rows or row dicts."""
    out = {(r["term"], r["shard"]): tuple(_norm(r[c]) for c in cols)
           for r in rows}
    assert len(out) == len(rows)  # one row per (term, shard) group
    return out


def _by_group(frame, order: str, body) -> list[dict]:
    """The reference: pandas groupby over the collected input, the
    body called once per (term, shard) group ordered by `order`."""
    pdf = frame.toPandas().sort_values(
        ["term", "shard", order], kind="stable"
    )
    return [
        body({c: grp[c].to_numpy() for c in grp.columns})
        for _, grp in pdf.groupby(["term", "shard"], sort=False)
    ]


def _collect_spanning(spark, frame) -> list:
    prev = spark.conf.get(BATCH_KEY, "10000")
    spark.conf.set(BATCH_KEY, "7")
    try:
        return frame.collect()
    finally:
        spark.conf.set(BATCH_KEY, prev)


@pytest.fixture(scope="module")
def docs(corpus_small):
    return corpus_small.limit(60)


@pytest.fixture(scope="module")
def pos_rows(docs):
    prepared = prepare_docs(docs, use_html=True).select("doc_id", "lemmas")
    rows = POS.positional_rows(prepared, N_SHARDS).localCheckpoint()
    yield rows
    rows.unpersist()


POS_COLS = [f.name for f in POS.POSITIONAL_SEGMENTS_SCHEMA.fields]
SEG_COLS = [f.name for f in SG.INDEX_SEGMENTS_SCHEMA.fields]


def _run(packed, run_id: int) -> dict:
    """A packed tree's doc tables of run `run_id`: shard → DocTable."""
    return {s: runs[run_id] for s, runs in packed.tables().items()}


@pytest.mark.parametrize("run_id", [0, 3])
def test_positional_build_spanning_batches(spark, pos_rows, run_id):
    packed = POS.repack_positional(pos_rows, block=2, run_id=run_id)
    tables = _run(packed, run_id)
    want = _by_group(
        pos_rows, "doc_id",
        lambda g: POS._pack_pos_group(g, tables, 2, run_id),
    )
    got = _collect_spanning(spark, packed.rows)
    assert _rows(got, POS_COLS) == _rows(want, POS_COLS)
    # groups of many docs really are multi-block
    assert max(r["n_docs"] for r in got) > 2 * 7


def test_repack_positional_spanning_batches(spark, pos_rows):
    packed = POS.repack_positional(pos_rows, block=2)
    unpacked = POS.unpack_positional(packed).localCheckpoint()
    repacked = POS.repack_positional(unpacked, block=2)
    tables = _run(repacked, 0)
    want = _by_group(
        unpacked, "doc_id", lambda g: POS._pack_pos_group(g, tables, 2, 0)
    )
    got = _collect_spanning(spark, repacked.rows)
    assert _rows(got, POS_COLS) == _rows(want, POS_COLS)
    # the unpack → repack round trip is lossless
    assert _rows(got, POS_COLS) == _rows(packed.rows.collect(), POS_COLS)


def test_merge_runs_spanning_batches(spark, docs):
    idx = build_index(docs, use_html=True)
    n, avgdl = corpus_constants(idx.doc_stats)
    base = SG.build_segments(idx, n, avgdl, n_shards=N_SHARDS)
    # two delta runs re-landing overlapping docs with an extra term
    runs = [base]
    for run_id, (lo, extra) in enumerate([(10, "дельта"), (15, "поиск")], 1):
        delta = docs.limit(lo).withColumn(
            "html", F.encode(F.concat(
                F.lit("<html><body><p>"), F.col("text"),
                F.lit(f" {extra}</p></body></html>")), "utf-8"))
        runs.append(SG.delta_segments(
            prepare_docs_counts(delta, use_html=True), idx.term_stats, n,
            avgdl, N_SHARDS, run_id, avgtl=1.5,
        ))
    segments = runs[0]
    for r in runs[1:]:
        segments = segments.union(r)
    segments = SG.Packed(segments.rows.localCheckpoint(), segments.docs)
    tables = segments.tables()
    merged = {s: SG.merge_tables(t) for s, t in tables.items()}
    want = _by_group(
        segments.rows, "run_id",
        lambda g: SG._merge_group(g, n, avgdl, 5, tables, merged),
    )
    got = _collect_spanning(spark, SG.merge_runs(segments, n, avgdl, 5).rows)
    assert _rows(got, SEG_COLS) == _rows(want, SEG_COLS)
    multi = segments.rows.groupBy("term", "shard").count()
    assert multi.filter(F.col("count") > 1).count() > 7
    # one run merges to itself
    base_rows = _rows(base.rows.collect(), SEG_COLS)
    assert _rows(
        _collect_spanning(spark, SG.merge_runs(base, n, avgdl, 0).rows),
        SEG_COLS,
    ) == base_rows
