"""Table schemas (fixed StructTypes) for every persistent table.

Mirrors the reference's relational model re-expressed columnar
(reference tables: site/page/lemma/website_index —
entity/Site.java, entity/Page.java, entity/Lemma.java, entity/Index.java)
plus the packed-index and lineage tables the north rule mandates.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input corpus — exact input_hint shape (BASELINE.json:15).
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Relational postings (correctness/oracle representation).
# reference analog: website_index(page_id, lemma_id, lemma_rank) —
# entity/Index.java:14-31.
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)

# Per-term stats. reference analog: lemma(site_id, lemma, frequency) —
# entity/Lemma.java:13-30 (frequency == document frequency).
TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),  # collection frequency
    ]
)

# Per-doc stats (BM25 needs doclen; the reference stored none).
DOC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("site", T.StringType(), True),
        T.StructField("doclen", T.LongType(), False),
    ]
)

# Packed posting segments: rank-gap + varbyte docID runs with
# block-max BM25 annotations (north_rule). One row per
# (term, shard, run). Shard = pmod(hash(doc_id), n_shards) — a single
# GLOBAL doc-space partitioning shared by all terms, so query-time
# conjunctive intersection is shard-local (no cross-shard doc).
# `doc_ids` holds each posting's RANK in its (run, shard)'s doc table
# (index/segments.py: the run's doc ids sorted ascending, with each
# doc's length and title length beside them — segments.TF_DOCS_SCHEMA,
# stored under <tree>/_docs), as gaps; query-time BM25 gathers the
# exact integer doclens from the table by rank and recomputes in
# float64 (rank-identity with the relational path and the oracle);
# block_max_score is the exact per-block max of those float64 scores
# (sound upper bound for WAND by construction).
INDEX_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("run_id", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),  # term DF (global)
        T.StructField("doc_ids", T.BinaryType(), False),  # rank gaps, varbyte
        T.StructField("tfs", T.BinaryType(), False),  # varbyte
        T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_score", T.ArrayType(T.DoubleType()), False),
        # byte offset of each block's first value in the corresponding
        # varbyte stream (block b spans [off[b], off[b+1]) with the
        # stream length as the implicit terminal) — enables LAZY
        # per-block decode at query time: a WAND kernel touches only
        # the blocks its candidates live in, never the whole list
        T.StructField("block_off_ids", T.ArrayType(T.IntegerType()), False),
        T.StructField("block_off_tfs", T.ArrayType(T.IntegerType()), False),
        # --- per-field TF layer (BM25F serving, index/wand mode="bm25f")
        # A varbyte stream aligned 1:1 with the postings: the doc's
        # TITLE-field tf for this term (mostly 0 — varbyte spends 1
        # byte per zero); the title length sits in the doc table.
        # Per-block maxima of the FIELD-NORMALIZED tf (tf_f /
        # (1-b_f+b_f·len_f/avg_f), slopes fixed at pack time —
        # operators/fielded.FIELD_B_*) let the kernel build a sound
        # BM25F block bound for ANY query-time field weights: x̄ =
        # w_b·max_bnorm + w_t·max_tnorm dominates every posting's x, and
        # the saturation is monotone. `avgtl` rides per row (like df)
        # so serving needs no side lookup. Nullable: a row without the
        # layer makes mode="bm25f" fail with a clear error.
        T.StructField("tfs_title", T.BinaryType(), True),
        T.StructField("block_off_ttf", T.ArrayType(T.IntegerType()), True),
        T.StructField("block_max_bnorm", T.ArrayType(T.DoubleType()), True),
        T.StructField("block_max_tnorm", T.ArrayType(T.DoubleType()), True),
        T.StructField("avgtl", T.DoubleType(), True),
    ]
)

# Build lineage / checkpoint manifest (north_rule resumability;
# reference analog: site.status/status_time heartbeat —
# utils/SqlUtils.java:17-19, entity/Site.java:14-36). One row per
# completed shard group per stage — consumed by index.manifest
# (restart-skip) and operators.ops (status dashboard).
BUILD_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("group_id", T.IntegerType(), False),
        T.StructField("n_groups", T.IntegerType(), False),
        T.StructField("n_shards", T.IntegerType(), False),
        T.StructField("run_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("started_at", T.DoubleType(), True),
        T.StructField("finished_at", T.DoubleType(), True),
        T.StructField("n_segments", T.LongType(), True),
        T.StructField("n_postings", T.LongType(), True),
        T.StructField("n_terms", T.LongType(), True),
        T.StructField("bytes_written", T.LongType(), True),
    ]
)
