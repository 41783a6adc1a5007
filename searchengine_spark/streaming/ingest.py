"""Structured-Streaming incremental indexer.

The reference's only "streaming" surface is the one-page incremental
reindex (POST /api/indexPage → IndexingService.indexSinglePage,
SURVEY §2.9 I1). At corpus scale that becomes a continuous ingestion
pipeline: new crawl files land in the docs directory; each micro-batch
runs the same extract→tokenize→pack kernels and appends a NEW segment
run; queries merge runs last-wins (index.wand._TermList) and
index.refresh.refresh_and_repack compacts (and exactly
re-aggregates statistics) periodically.

Spark-first shape: `readStream` file source (exactly-once via the
streaming checkpoint — a batch is never reprocessed after commit) →
`foreachBatch` running the delta kernel → parquet append. foreachBatch
is the right tool because the sink is a batch-write of a custom packed
format; the stream itself carries no aggregation state, so no
watermarks are needed (dedup against the BASE index is doc_id-keyed
last-run-wins at read time, not stream state).

At 10^12-doc scale the same topology runs with an Iceberg source
(`streamFrom` snapshots) and per-batch manifest rows for lineage —
the batch_id IS the run_id, giving an auditable run ledger.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..index.segments import write_delta_run
from ..operators.postings import prepare_docs_counts
from ..schemas import DOCS_SCHEMA


def start_incremental_indexer(
    spark: SparkSession,
    docs_stream_dir: str,
    index_base: str,
    checkpoint_dir: str,
    n_docs: int,
    avgdl: float,
    n_shards: int,
    base_run_id: int = 0,
    use_html: bool = True,
    available_now: bool = True,
):
    """Start the streaming indexer over a landing directory.

    Returns the StreamingQuery. `available_now=True` processes all
    currently-available files then stops (the batch-refresh mode);
    False runs continuously.

    Delivery semantics: foreachBatch is AT-LEAST-ONCE — a batch whose
    writes landed but whose checkpoint commit did not will replay on
    restart, appending value-identical duplicate rows under the same
    run_id. Every consumer tolerates that: the read-time merge dedups
    equal doc_ids, and refresh_and_repack drops exact duplicate
    postings/meta rows before re-aggregating (see
    index.refresh.current_view / _doc_meta_resolved).
    """
    # shard mapping is part of the index identity: refuse to append
    # runs under a different modulus than the build recorded (a doc's
    # postings must stay in one shard for conjunctive WAND)
    from ..index.manifest import read_manifest

    recorded = (
        read_manifest(spark, index_base)
        .filter(F.col("stage") == "pack_segments")
        .select("n_shards")
        .distinct()
        .collect()
    )
    if recorded and int(recorded[0]["n_shards"]) != n_shards:
        raise ValueError(
            f"n_shards={n_shards} conflicts with the index's recorded "
            f"{int(recorded[0]['n_shards'])} — appending runs under a "
            f"different shard mapping would corrupt conjunctive search"
        )

    def process_batch(batch_df, batch_id: int) -> None:
        # re-read term_stats EVERY batch: a refresh_and_repack swap
        # replaces the idx directory, and a plan captured at stream
        # start would keep a stale (soon deleted) file listing
        term_stats = spark.read.parquet(f"{index_base}/idx/term_stats")
        prepared = prepare_docs_counts(batch_df, use_html=use_html)
        # run_id = base + batch_id + 1 is strictly increasing (the
        # streaming batch counter is checkpointed and monotonic) and
        # can never collide with a compaction run: refresh_and_repack
        # writes the merged state as run 0 — semantically the OLDEST
        # run — never max+1
        run_id = base_run_id + int(batch_id) + 1
        write_delta_run(
            spark,
            prepared,
            index_base,
            term_stats,
            n_docs=n_docs,
            avgdl=avgdl,
            n_shards=n_shards,
            run_id=run_id,
        )
        # positional lifecycle parity (same contract as
        # service.index_page): when the index carries positional runs,
        # each micro-batch ALSO lands its positional delta under the
        # same run_id — streamed pages become phrase-searchable
        # immediately via _PosList's last-run-wins merge, and the next
        # refresh_and_repack folds the runs. Replays append
        # value-identical rows: serving keeps the last tied occurrence
        # (byte-identical), compaction dropDuplicates them.
        from ..index.manifest import fs_exists

        if fs_exists(spark, f"{index_base}/possegs"):
            from ..index.positional import (
                build_positional_segments,
                write_positional_segments,
            )
            from ..operators.postings import prepare_docs

            pos_prepared = prepare_docs(batch_df, use_html=use_html).select(
                "doc_id", "lemmas"
            )
            write_positional_segments(
                build_positional_segments(
                    pos_prepared, n_shards, run_id=run_id
                ),
                f"{index_base}/possegs",
                mode="append",
            )

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(docs_stream_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("incremental-indexer")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
