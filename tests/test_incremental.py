"""Incremental update (reference I1: POST /api/indexPage →
IndexingService.indexSinglePage): a delta batch lands as a new
segment run; search over base+delta reflects the updated documents
(last-run-wins), and merge_runs compaction preserves results."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import (
    build_segments,
    delta_segments,
    merge_runs,
)
from searchengine_spark.index.wand import search_packed
from searchengine_spark.operators.postings import (
    build_index,
    prepare_docs_counts,
)
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.sources.corpus import corpus_df

N = 200
N_SHARDS = 4
QUERY = "уникальнейшийтермин"  # OOV → identity lemma


@pytest.fixture(scope="module")
def base(spark):
    docs = corpus_df(spark, N)
    idx = build_index(docs, use_html=True)
    n, avgdl = corpus_constants(idx.doc_stats)
    segs = build_segments(idx, n, avgdl, n_shards=N_SHARDS).cache()
    segs.rows.count()
    return docs, idx, segs, n, avgdl


def test_delta_run_updates_results(spark, base):
    docs, idx, segs, n, avgdl = base

    # no hits before the delta
    before = search_packed(
        spark, segs, idx.term_stats, n, avgdl, QUERY, k=5
    ).collect()
    assert before == []

    # delta: re-land two existing urls with the query term injected
    delta_docs = (
        docs.limit(2)
        .withColumn("text", F.concat_ws(" ", "text", F.lit(QUERY)))
        .withColumn(
            "html",
            F.encode(
                F.concat(F.lit("<html><body><p>"),
                         F.col("text"),
                         F.lit("</p></body></html>")),
                "utf-8",
            ),
        )
    )
    prepared = prepare_docs_counts(delta_docs, use_html=True)
    delta = delta_segments(
        prepared, idx.term_stats, n, avgdl, n_shards=N_SHARDS, run_id=1
    )
    merged_view = segs.union(delta)

    after = search_packed(
        spark, merged_view, idx.term_stats, n, avgdl, QUERY, k=5,
        df_map={QUERY: 2},
    ).collect()
    assert len(after) == 2
    updated_ids = {r["doc_id"] for r in prepared.select("doc_id").collect()}
    assert {r["doc_id"] for r in after} == updated_ids

    # compaction: merge runs → same results, single run per (term, shard)
    compacted = merge_runs(merged_view, n, avgdl, run_id=2).cache()
    assert (
        compacted.rows.groupBy("term", "shard")
        .count().filter(F.col("count") > 1).count() == 0
    )
    after2 = search_packed(
        spark, compacted, idx.term_stats, n, avgdl, QUERY, k=5,
        df_map={QUERY: 2},
    ).collect()
    assert {r["doc_id"] for r in after2} == updated_ids
