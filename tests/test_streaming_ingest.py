"""Structured-Streaming incremental indexer: new files land → delta
segment runs appended exactly once (checkpointed) → queries see the
updated docs via last-run-wins merge."""

from pyspark.sql import functions as F

from searchengine_spark.index.segments import build_segments, read_packed, write_segments
from searchengine_spark.index.wand import search_packed
from searchengine_spark.operators.postings import build_index, materialize_index
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.sources.corpus import corpus_df
from searchengine_spark.streaming.ingest import start_incremental_indexer

N = 150
N_SHARDS = 4
QUERY = "свежийпотоковыйтермин"  # OOV → identity lemma


def test_streaming_delta_ingest(spark, tmp_path):
    from searchengine_spark.index.positional import (
        build_positional_segments,
        phrase_search_packed,
        write_positional_segments,
    )
    from searchengine_spark.operators.postings import prepare_docs

    base = str(tmp_path / "idx")
    stream_dir = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")

    docs = corpus_df(spark, N)
    idx = materialize_index(spark, docs, f"{base}/idx", use_html=True)
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=N_SHARDS),
                   f"{base}/segments")
    # positional layer present → each micro-batch must also land a
    # positional delta run (phrase-searchable streamed pages)
    write_positional_segments(
        build_positional_segments(
            prepare_docs(docs, use_html=True).select("doc_id", "lemmas"),
            N_SHARDS,
        ),
        f"{base}/possegs",
    )

    # land a delta file: 2 docs re-crawled with the new term
    delta_docs = (
        docs.limit(2)
        .withColumn("text", F.concat_ws(" ", "text", F.lit(QUERY)))
        .withColumn(
            "html",
            F.encode(
                F.concat(F.lit("<html><body><p>"), F.col("text"),
                         F.lit("</p></body></html>")), "utf-8"),
        )
    )
    delta_docs.coalesce(1).write.mode("overwrite").parquet(stream_dir)

    q = start_incremental_indexer(
        spark, stream_dir, base, ckpt, n_docs=n, avgdl=avgdl,
        n_shards=N_SHARDS, available_now=True,
    )
    q.awaitTermination(120)

    segments = read_packed(spark, f"{base}/segments")
    hits = search_packed(
        spark, segments, idx.term_stats, n, avgdl, QUERY, k=5,
        df_map={QUERY: 2},
    ).collect()
    assert len(hits) == 2

    n_runs_1 = segments.rows.select("run_id").distinct().count()
    assert n_runs_1 >= 2  # base run + at least one delta run

    # the streamed docs are phrase-searchable: their positional delta
    # landed under the same run_id ("...текст QUERY" tail makes the
    # 2-gram "<last-original-lemma> QUERY" unique to the re-crawl);
    # simpler check: the OOV term itself is positionally present
    possegs = read_packed(spark, f"{base}/possegs")
    assert possegs.rows.select("run_id").distinct().count() >= 2
    ph = phrase_search_packed(spark, possegs, QUERY).collect()
    assert len(ph) == 2

    # exactly-once: re-running over the same landing dir adds nothing
    q2 = start_incremental_indexer(
        spark, stream_dir, base, ckpt, n_docs=n, avgdl=avgdl,
        n_shards=N_SHARDS, available_now=True,
    )
    q2.awaitTermination(120)
    n_runs_2 = (
        spark.read.parquet(f"{base}/segments")
        .select("run_id").distinct().count()
    )
    assert n_runs_2 == n_runs_1
