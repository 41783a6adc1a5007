"""Exact statistics refresh + repack after incremental deltas.

Delta runs (index.segments.delta_segments) score with the BASE corpus
statistics (n_docs/avgdl/df) — the standard small-delta approximation.
This maintenance pass removes the approximation entirely: it
re-derives the TRUE current corpus state from the stored runs
(doc-level last-run-wins — a re-landed document supersedes ALL its old
postings, exactly like the reference's delete-then-reinsert reindex,
services/IndexingService.java:139-162,234-250), re-aggregates
term_stats / doc_stats / (n_docs, avgdl) exactly, and repacks every
segment with the fresh statistics. The result is byte-identical to a
cold full rebuild of the same corpus state
(tests/test_refresh.py) — the idempotent re-aggregation SURVEY §3.3
mandates, with no ±1 stat mutation anywhere.

Doc-level supersede beats the query path's per-(term, shard) last-wins
merge: that merge cannot drop a term the updated document no longer
contains (segments of different terms never see each other). Between a
delta and the next refresh, queries may therefore still see a removed
term's stale posting — a documented staleness window that this pass
closes. Compaction (scripts/compact.py) IS this pass.

Run-id discipline: the repacked output is written as run_id=0 — the
merged state is semantically the OLDEST run (everything newer must win
over it), so future delta runs (strictly increasing ids from the
streaming batch counter) can never collide with a compaction id
(the collision the old max+1 scheme had). Maintenance assumes a
single writer: pause ingestion for the swap (the reference likewise
serializes reindex against maintenance).

Both packed layouts fold the same way: one meta-keyed current view
(current_view, over unpack_postings or positional.unpack_positional)
feeds the layout's pack through the one pack driver
(segments._pack_walk) the cold build uses.

Scale notes (10^12 docs): every step is a bounded shuffle —
unpack is a zero-shuffle mapInPandas over segment rows; the doc-level
keep-run map is one groupBy(doc_id); the repack reuses the stored
shard column (the global doc-space hash partitioning), so the pack
driver's (term, shard) groups stay ≤ docs_per_shard postings
regardless of term skew, same as the cold build.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import IndexTables, write_index
from .manifest import fs_touch
from .segments import (
    _FORMAT_MARKER,
    DOCS_DIR,
    Packed,
    read_packed,
    read_pinned,
    unpack_segment,
)

UNPACKED_SCHEMA = "term string, shard int, doc_id long, tf long, run_id int"


def _opt_title(df: DataFrame):
    """title column if the frame has one, else NULL — indexes built
    before the title column (or via the lemmas-path build_doc_stats)
    stay readable."""
    col = F.col("title") if "title" in df.columns else F.lit(None)
    return col.cast("string").alias("title")


def _doc_meta_resolved(spark: SparkSession, base: str) -> DataFrame:
    """(doc_id, url, site, title, mrun, deleted): doc-level last-wins
    meta resolution across base doc_stats (run 0) and
    idx/doc_meta_runs, the appended runs pinned to the files listed
    now. Ties at the same run resolve deleted-wins; duplicate meta rows
    (at-least-once replay of a delta batch) collapse here too."""
    base_meta = spark.read.parquet(f"{base}/idx/doc_stats")
    meta = base_meta.select(
        "doc_id", "url", "site", _opt_title(base_meta),
        F.lit(0).alias("mrun"), F.lit(False).alias("deleted"),
    )
    # explicit existence check — a READ failure on an existing delta
    # dir must propagate (swallowing it would silently drop every
    # delta doc from the repack and then delete their meta for good)
    delta_path = f"{base}/idx/doc_meta_runs"
    if os.path.isdir(delta_path):
        raw = read_pinned(spark, delta_path)
        deltas = raw.select(
            "doc_id", "url", "site", _opt_title(raw),
            F.col("run_id").alias("mrun"), "deleted",
        )
        meta = meta.unionByName(deltas)
    latest = meta.groupBy("doc_id").agg(F.max("mrun").alias("mrun"))
    return (
        meta.join(latest, ["doc_id", "mrun"])
        .groupBy("doc_id", "mrun")
        .agg(
            F.max("deleted").alias("deleted"),  # tombstone wins a tie
            F.min("url").alias("url"),  # identical per doc; min = determinism
            F.min("site").alias("site"),
            F.min("title").alias("title"),
        )
        .select("doc_id", "url", "site", "title", "mrun", "deleted")
    )


def unpack_postings(segments: Packed) -> DataFrame:
    """A TF tree → relational (term, shard, doc_id, tf, run_id). Pure
    map over segment rows (no grouping, no shuffle; the collected doc
    tables ride the closure)."""
    tables = segments.tables()

    def run(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                shard, run_id = int(row["shard"]), int(row["run_id"])
                ids, tfs = unpack_segment(row, tables[shard][run_id])[:2]
                out.append(
                    pd.DataFrame(
                        {
                            "term": row["term"],
                            "shard": shard,
                            "doc_id": ids,
                            "tf": tfs,
                            "run_id": run_id,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cols = ["term", "shard", "run_id", "doc_ids", "tfs"]
    return segments.rows.select(*cols).mapInPandas(run, schema=UNPACKED_SCHEMA)


def current_view(segments: Packed, live: DataFrame, unpack) -> DataFrame:
    """Doc-level last-run-wins view of the stored runs of one packed
    layout: every row `unpack(segments)` yields (unpack_postings, or
    positional.unpack_positional) of a document's authoritative run per
    the META resolution (`live` = _doc_meta_resolved output filtered to
    living docs), nothing else.

    Keying the supersede on the meta run — not max(run_id) over the
    postings — matters twice: a doc re-landed with ZERO indexable terms
    has a meta row but no postings (its old postings must drop, not
    win), and segment runs orphaned by a crash between the segments
    append and the meta append are inert until their meta lands (no
    data loss window). Exact duplicates of a (term, shard, doc, run)
    posting — at-least-once replay of a delta batch — collapse in the
    dropDuplicates (replayed rows are value-identical by construction,
    the batch content is deterministic). A doc whose meta run has no
    positional run (a page landed while the positional layer did not
    exist) drops from the positional view only."""
    unpacked = unpack(segments).dropDuplicates(
        ["term", "shard", "doc_id", "run_id"]
    )
    keep = live.select("doc_id", F.col("mrun").alias("keep_run"))
    return unpacked.join(keep, "doc_id").filter(
        F.col("run_id") == F.col("keep_run")
    ).drop("keep_run")


def refresh_and_repack(
    spark: SparkSession,
    base: str,
    run_id: int = 0,
    fail_before_swap: bool = False,
    fail_mid_swap: bool = False,
) -> tuple[IndexTables, Packed]:
    """Re-aggregate exact stats from all runs and repack <base> in
    place: idx/{postings,term_stats,doc_stats} overwritten with the
    true current state, segments/ rewritten as a single run scored
    with the fresh (n_docs, avgdl, df). Returns (tables, segments — a
    segments.Packed).

    Crash safety: both output trees are FULLY written to `.refreshing`
    temp dirs before any rename happens, so every crash state is
    recoverable by `recover(base)` — roll forward if the temps are
    complete (any started swap implies they were), roll back (delete
    temps) otherwise. `fail_before_swap` / `fail_mid_swap` inject
    crashes at the two interesting points for the recovery tests.

    READER EXCLUSION: the two-rename swap leaves a window in which
    segments/ or idx/ briefly does not exist — a query served between
    the renames fails with a missing-path error. Single WRITER is
    already required; concurrent READERS must be paused across the
    swap (a query server re-opens the index after the refresh returns).
    A deployment that cannot pause reads should swap via a versioned
    directory plus an atomically replaced pointer (or an Iceberg
    snapshot commit — sources/catalog.py), so every reader always
    resolves one complete tree; the rename swap is the local-POSIX
    stand-in for that pointer flip."""
    recover(base)  # settle any crashed previous refresh first
    seg_path = f"{base}/segments"
    segments = read_packed(spark, seg_path)
    live = (
        _doc_meta_resolved(spark, base).filter(~F.col("deleted")).cache()
    )
    # tombstoned docs drop out here (absent from `live`); postings keep
    # only each doc's meta-authoritative run (see current_view)
    cur = current_view(segments, live, unpack_postings).cache()

    # exact re-aggregation (A2 + doclen + corpus constants)
    dl = cur.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("doclen"))
    term_stats = cur.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    doc_stats = (
        live
        .join(dl, "doc_id", "left")
        .fillna(0, subset=["doclen"])
    )
    totals = doc_stats.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s")
    ).collect()[0]
    n_docs = int(totals["n"])
    avgdl = (float(totals["s"]) / n_docs) if n_docs else 0.0

    # repack with fresh stats; the shard column is reused verbatim (the
    # global doc-space hash partitioning never changes on refresh) —
    # for a doc's table row, from the doc tables. The BM25F field
    # layer is re-derived from the RESOLVED titles (delta-landed titles
    # included) with a fresh exact avgtl — the delta runs'
    # base-constant approximation closes here, same as df/avgdl
    from .segments import (
        _pack_tf,
        _table_rows,
        _with_title_cols,
        title_field_side,
        write_packed,
    )

    title_side = title_field_side(live.select("doc_id", "title")).cache()
    enriched = _with_title_cols(
        cur.select("term", "shard", "doc_id", "tf")
        .join(term_stats.select("term", "df"), "term"),
        title_side,
    )
    shards = segments.docs.select("doc_id", "shard").distinct()
    docs = _table_rows(
        doc_stats.select("doc_id", "doclen").join(shards, "doc_id"),
        F.col("shard"), title_side,
    )
    tmp = f"{seg_path}.refreshing"
    write_packed(_pack_tf(enriched, docs, n_docs, avgdl, run_id, None), tmp)
    title_side.unpersist()

    # the new idx tables still READ from the old idx/segments paths
    # (doc_stats ← idx/doc_stats via _doc_meta, postings ← segments),
    # so everything lands in temp dirs first and swaps by rename —
    # never overwrite a path a lazy plan is reading
    idx_path = f"{base}/idx"
    tmp_idx = f"{idx_path}.refreshing"
    tables = IndexTables(
        postings=cur.select("term", "doc_id", F.col("tf").cast("int").alias("tf")),
        term_stats=term_stats,
        doc_stats=doc_stats.select("doc_id", "url", "site", "title", "doclen"),
    )
    write_index(tables, tmp_idx)

    # positional lifecycle parity: if the index carries positional runs
    # (<base>/possegs), fold their delta runs and drop tombstoned docs
    # with the SAME meta-keyed resolution, repack to one run, and swap
    # alongside. possegs is derivable state (refresh_positional can
    # rebuild it), so its recovery rule is simpler: roll forward when
    # complete, otherwise discard the temp and keep serving the stale
    # snapshot (see recover()).
    pos_path = f"{base}/possegs"
    tmp_pos = f"{pos_path}.refreshing"
    has_pos = os.path.isdir(pos_path)
    if has_pos:
        from .positional import (
            repack_positional,
            unpack_positional,
            write_positional_segments,
        )

        possegs = read_packed(spark, pos_path)
        write_positional_segments(
            repack_positional(
                current_view(possegs, live, unpack_positional),
                run_id=run_id,
            ),
            tmp_pos,
        )
    cur.unpersist()
    live.unpersist()

    if fail_before_swap:
        raise RuntimeError("injected crash before swap")

    # atomic-ish swaps (rename); on object stores use a catalog pointer
    # or snapshot replace instead
    swaps = [(seg_path, tmp), (idx_path, tmp_idx)]
    if has_pos:
        swaps.append((pos_path, tmp_pos))
    for i, (path, fresh) in enumerate(swaps):
        if fail_mid_swap and i == 1:
            raise RuntimeError("injected crash between swaps")
        _swap_in(path, fresh)
    # (delta meta is gone with the old idx tree: the swap replaced it
    # with the freshly written postings/term_stats/doc_stats — the new
    # doc_stats IS the folded state)

    # The renames happened OUTSIDE Spark's write path, so the session's
    # CacheManager and shared file-status cache still hold the
    # pre-swap state for these paths — and a cached plan poisons even
    # a brand-new reader: .cache() on a semantically identical scan
    # reuses the existing stale InMemoryRelation instead of re-reading
    # ("Asked to cache already cached data"). Without this, a
    # SearchService opened AFTER the refresh silently serves the
    # pre-refresh index (delta docs vanish from doc_stats/term_stats).
    for path, _ in swaps:
        spark.catalog.refreshByPath(path)

    from ..operators.postings import read_index

    return read_index(spark, idx_path), read_packed(spark, seg_path)


def _swap_in(path: str, fresh: str) -> None:
    """old-aside rename swap; idempotent on re-entry (recover)."""
    old = f"{path}.old"
    if os.path.exists(fresh):
        if os.path.exists(path):
            if os.path.exists(old):  # leftover from an earlier crash
                shutil.rmtree(old, ignore_errors=True)
            os.rename(path, old)
        os.rename(fresh, path)
    shutil.rmtree(old, ignore_errors=True)


def _tree_complete(path: str, subdirs: tuple[str, ...] = ()) -> bool:
    """A parquet write is complete iff its _SUCCESS marker landed (in
    each of `subdirs`); a packed tree (no `subdirs`) needs its rows',
    its doc tables' and its format marker, which
    segments.write_packed writes last."""
    if not os.path.isdir(path):
        return False
    if not subdirs:
        subdirs = ("", DOCS_DIR)
        if not os.path.exists(os.path.join(path, _FORMAT_MARKER)):
            return False
    return all(os.path.exists(os.path.join(path, s, "_SUCCESS"))
               for s in subdirs)


def _recover_pos(base: str, action: str) -> str:
    """Positional half of recover(). possegs is DERIVABLE state
    (service.refresh_positional rebuilds it from the corpus), so its
    rule is simpler than the main two-tree invariant: roll the temp
    forward when the main state is settled (`clean`/`forward` — the
    possegs swap runs LAST) and the temp tree is complete, otherwise
    discard it and keep serving the stale snapshot. A stale snapshot
    is safe: tombstoned docs stay deny-listed and docs the index no
    longer serves drop in the phrase kernel's served-docs filter; the
    next compaction (or refresh_positional) replaces it."""
    pos_path = f"{base}/possegs"
    tmp = f"{pos_path}.refreshing"
    old = f"{pos_path}.old"
    if os.path.exists(tmp):
        if action in ("clean", "forward") and _tree_complete(tmp):
            _swap_in(pos_path, tmp)
        else:
            shutil.rmtree(tmp, ignore_errors=True)
            if action in ("clean", "forward") and os.path.exists(pos_path):
                # the MAIN index moved forward (compaction dropped
                # tombstoned docs from segments/serve_meta) but the
                # possegs repack was lost — the kept snapshot may hold
                # rows for docs that no longer exist. Mark it so the
                # serving layer's phrase kernel filters to the served
                # docs (the doc→site map as its `allowed` side) until
                # the next repack/rebuild replaces the tree (an
                # underscore file — parquet readers skip it).
                fs_touch(SparkSession.active(), f"{pos_path}/_STALE")
    elif os.path.exists(old):
        # crashed inside the possegs swap after tmp→path: new tree is
        # live, the set-aside old one just needs dropping
        shutil.rmtree(old, ignore_errors=True)
    return action


def recover(base: str) -> str:
    """Complete or undo an interrupted refresh_and_repack. Returns the
    action taken: 'forward' (temps were complete — finish the swaps),
    'rollback' (temps incomplete — delete them, keep the old state),
    or 'clean' (nothing to do). Run before opening an index whose
    maintenance job may have died."""
    seg_path = f"{base}/segments"
    idx_path = f"{base}/idx"
    tmp_seg = f"{seg_path}.refreshing"
    tmp_idx = f"{idx_path}.refreshing"
    olds = [f"{seg_path}.old", f"{idx_path}.old"]
    olds_exist = any(os.path.exists(o) for o in olds)
    tmps_exist = os.path.exists(tmp_seg) or os.path.exists(tmp_idx)
    if not tmps_exist and not olds_exist:
        return _recover_pos(base, "clean")
    seg_ok = _tree_complete(tmp_seg)
    idx_ok = _tree_complete(tmp_idx, ("postings", "term_stats", "doc_stats"))

    def forward() -> str:
        _swap_in(seg_path, tmp_seg)
        _swap_in(idx_path, tmp_idx)
        return "forward"

    # a swap only begins after BOTH temps are fully written, and the
    # segments swap runs first; so:
    if olds_exist or not os.path.exists(seg_path) or not os.path.exists(idx_path):
        # crashed mid-rename — temps were complete by invariant
        return _recover_pos(base, forward())
    if os.path.exists(tmp_seg):
        if seg_ok and idx_ok:
            return _recover_pos(base, forward())  # crashed after both writes, before any swap
        # a temp write itself died: discard, old state is untouched.
        # tmp_idx goes FIRST (reverse of write order) so a crash between
        # the two rmtrees leaves tmp_seg-present/tmp_idx-absent — a
        # state this branch handles again — never the seg-absent/
        # idx-present shape the forward path would misread
        shutil.rmtree(tmp_idx, ignore_errors=True)
        shutil.rmtree(tmp_seg, ignore_errors=True)
        return _recover_pos(base, "rollback")
    # tmp_seg gone but tmp_idx remains ⇒ the segments swap already
    # happened (temps are written seg-first) — finish the idx swap
    if idx_ok:
        return _recover_pos(base, forward())
    raise RuntimeError(
        f"unrecoverable refresh state at {base}: segments already "
        f"swapped but {tmp_idx} is incomplete — restore from backup "
        f"or re-run the refresh"
    )
