"""Resumable index build: per-partition checkpoints + lineage manifest.

North-rule requirement: "resumable from per-partition checkpoints with
lineage manifests and per-partition token/posting/byte metrics".
Reference analog: the `site.status/status_time/last_error` job-status
rows and per-batch heartbeat (entity/Site.java:14-36,
utils/SqlUtils.java:17-19) — generalized from one row per site to one
manifest row per (stage, partition group).

Layout under a build root:

    <base>/idx/{postings,term_stats,doc_stats}   relational index
    <base>/segments/shard=K/...                  packed runs
    <base>/segments/_docs/shard=K/...            their doc tables
    <base>/build_manifest/...                    append-only parquet

The unit of work (and of restart skip) is the *shard group*: shards
are split into `n_groups` groups; each group's segments are built and
written in one Spark job, then its manifest row (status='done', with
n_segments / n_postings / n_terms / bytes_written and timings) is
appended. A restart reads the manifest, skips groups already done, and
rebuilds only the rest — idempotent because each group owns a disjoint
set of shard=K output partitions (dynamic partition overwrite replaces
exactly the group's partitions on retry after a mid-group crash).

Scale notes: the manifest is tiny (n_groups rows per build pass) but
the pattern is the real one — at 10^12 docs you'd set n_groups so one
group ≈ one executor-hour, and the same manifest doubles as the
lineage record (input snapshot id, run id, per-group metrics) that ops
dashboards read.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import IndexTables
from ..schemas import BUILD_MANIFEST_SCHEMA as MANIFEST_SCHEMA
from .segments import (
    TF_DOCS_SCHEMA,
    Packed,
    collect_docs,
    enrich_postings,
    n_shards_for,
    pack_segments_frame,
    read_packed,
    run_tables,
    write_packed,
)


def manifest_path(base: str) -> str:
    return f"{base}/build_manifest"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for `path` through the Hadoop FileSystem API
    — correct on ANY filesystem an index base can live on (local,
    file:, hdfs://, s3a://). os.path/open() silently miss every
    URI-style base, which turns layer-presence gates (e.g. "does this
    index carry a positional layer?") and marker files into silent
    no-ops exactly where clusters run. (index/refresh.py's two-rename
    snapshot swap remains deliberately local-FS: it is the documented
    local stand-in for the Iceberg MERGE/snapshot path, see refresh.py
    module docstring.)"""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def fs_touch(spark: SparkSession, path: str) -> None:
    """Create (or truncate) an empty marker file at `path`."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.create(hpath, True).close()


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Delete the file at `path`; False when there was none."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.delete(hpath, False))


def read_manifest(spark: SparkSession, base: str) -> DataFrame:
    """Empty frame when no manifest exists yet — including a dir a
    killed build created but never landed a parquet file in (a crash
    artifact, equivalent to no manifest). A READ failure on an
    existing non-empty manifest PROPAGATES — swallowing it would
    bypass the shard-mapping guard below and let a resume silently mix
    two shard mappings in one index (the corruption the guard
    prevents).

    Existence is resolved through the Hadoop FileSystem API, so the
    check is correct on ANY filesystem an index base can live on
    (local, file:, hdfs://, s3a://) — an os.path probe would silently
    report "no manifest" for every URI-style base and defeat the
    shard-mapping guard exactly where clusters run."""
    path = manifest_path(base)
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath) or not any(
        st.getPath().getName().endswith(".parquet")
        for st in fs.listStatus(hpath)
    ):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.parquet(path)


def completed_groups(spark: SparkSession, base: str, stage: str) -> set[int]:
    m = read_manifest(spark, base)
    return {
        r["group_id"]
        for r in m.filter(
            (F.col("stage") == stage) & (F.col("status") == "done")
        ).select("group_id").collect()
    }


def _append_row(spark: SparkSession, base: str, row: dict) -> None:
    spark.createDataFrame([row], MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(manifest_path(base))


def build_packed_resumable(
    spark: SparkSession,
    index: IndexTables,
    base: str,
    n_docs: int,
    avgdl: float,
    n_shards: int | None = None,
    n_groups: int | None = None,
    run_id: int = 0,
    fail_after_group: int | None = None,
) -> Packed:
    """Build <base>/segments in `n_groups` checkpointed passes; skip
    groups already marked done in the manifest. Returns the tree
    (segments.read_packed). `fail_after_group` injects a crash after that group's
    write for the kill/resume test."""
    # Resume safety: shard/group mapping is part of the build identity.
    # If the manifest already has rows for this stage, the recorded
    # n_shards/n_groups are authoritative — a restart on a machine with
    # a different core count (defaultParallelism feeds n_shards_for)
    # must NOT silently mix two shard mappings in one index (conjunctive
    # WAND assumes shards partition the doc space). Reuse the recorded
    # values when the caller left them open; raise on a hard mismatch.
    recorded = (
        read_manifest(spark, base)
        .filter(F.col("stage") == "pack_segments")
        .select("n_shards", "n_groups")
        .distinct()
        .collect()
    )
    if len(recorded) > 1:
        raise ValueError(
            f"corrupt manifest at {base}: multiple shard mappings {recorded}"
        )
    if recorded:
        rec_shards = int(recorded[0]["n_shards"])
        rec_groups = int(recorded[0]["n_groups"])
        if n_shards is None:
            n_shards = rec_shards
        elif n_shards != rec_shards:
            raise ValueError(
                f"n_shards={n_shards} conflicts with the manifest's "
                f"{rec_shards} — resume with the recorded value or "
                f"rebuild from scratch"
            )
        if n_groups is None:
            n_groups = rec_groups
        elif n_groups != rec_groups:
            raise ValueError(
                f"n_groups={n_groups} conflicts with the manifest's "
                f"{rec_groups} — resume with the recorded value or "
                f"rebuild from scratch"
            )
    if n_shards is None:
        n_shards = n_shards_for(
            n_docs, min_parallelism=spark.sparkContext.defaultParallelism
        )
    if n_groups is None:
        n_groups = 8
    done = completed_groups(spark, base, "pack_segments")

    # partition-overwrite so a crashed group's partial partitions are
    # replaced, not duplicated, on retry; session value restored after
    # the build (a later partitioned write elsewhere in the session
    # must keep the user's overwrite semantics)
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        _run_groups(
            spark, base, index, n_docs, avgdl, n_shards, n_groups, run_id,
            done, fail_after_group,
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )

    return read_packed(spark, f"{base}/segments")


def _run_groups(
    spark, base, index, n_docs, avgdl, n_shards, n_groups, run_id, done,
    fail_after_group,
) -> None:
    """Each pending group is build_segments' own enrich + bulk pack,
    filtered to the group's shards (shard derives from doc_id alone, so
    the filter prunes the postings scan to a 1/n_groups slice), and
    writes its shards' rows and doc tables (write_packed; the dynamic
    partition overwrite replaces exactly the group's partitions). The
    doc tables are collected once, for avgtl and every group."""
    enriched, docs = enrich_postings(index, n_shards)
    docs_pdf = collect_docs(docs, run_id)
    avgtl = float(docs_pdf["tlen"].sum()) / n_docs if n_docs else 0.0
    tables = run_tables(docs_pdf)
    spark_docs = spark.createDataFrame(docs_pdf, TF_DOCS_SCHEMA)
    for g in range(n_groups):
        if g in done:
            continue
        t0 = time.time()
        in_group = F.pmod(F.col("shard"), F.lit(n_groups)) == g
        write_packed(
            Packed(
                pack_segments_frame(enriched.filter(in_group), tables,
                                    n_docs, avgdl, run_id, avgtl),
                spark_docs.filter(in_group),
            ),
            f"{base}/segments",
        )
        # per-group metrics from the freshly written partitions
        # (partition pruning keeps this a metadata-sized read)
        written = spark.read.parquet(f"{base}/segments").filter(
            F.pmod(F.col("shard"), F.lit(n_groups)) == g
        )
        stats = written.agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("n_docs").alias("n_postings"),
            F.count_distinct("term").alias("n_terms"),
            F.sum(
                F.octet_length("doc_ids") + F.octet_length("tfs")
            ).alias("bytes_written"),
        ).collect()[0]
        # the group's doc tables: 24 bytes of id, length and title
        # length per doc
        table_bytes = 24 * int((docs_pdf["shard"] % n_groups == g).sum())
        _append_row(
            spark,
            base,
            {
                "stage": "pack_segments",
                "group_id": g,
                "n_groups": n_groups,
                "n_shards": n_shards,
                "run_id": run_id,
                "status": "done",
                "started_at": t0,
                "finished_at": time.time(),
                "n_segments": int(stats["n_segments"] or 0),
                "n_postings": int(stats["n_postings"] or 0),
                "n_terms": int(stats["n_terms"] or 0),
                "bytes_written": int(stats["bytes_written"] or 0)
                + table_bytes,
            },
        )
        if fail_after_group is not None and g == fail_after_group:
            raise RuntimeError(f"injected failure after group {g}")
