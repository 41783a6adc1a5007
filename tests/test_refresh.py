"""Stats refresh + repack (index/refresh.py): after delta runs land,
refresh_and_repack must reproduce EXACTLY what a cold full rebuild of
the same corpus state produces — segments byte-identical (varbyte
streams, df, block-max scores bitwise) and idx tables row-identical.
This is the idempotent re-aggregation the reference's reindex path
implies (IndexingService.java:164-200,234-250; SURVEY §3.3): no ±1
stat mutation, no stale df/avgdl left anywhere.

Also locks doc-level supersede: a re-landed document REPLACES all its
old postings — terms it no longer contains must stop matching after
refresh (the per-(term, shard) read-time merge cannot do this, since
segments of different terms never see each other)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.refresh import refresh_and_repack
from searchengine_spark.index.segments import (
    build_segments,
    read_packed,
    write_delta_run,
    write_segments,
)
from searchengine_spark.index.wand import search_packed
from searchengine_spark.operators.postings import (
    build_index,
    prepare_docs,
    prepare_docs_counts,
    read_index,
    write_index,
)
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.sources.corpus import corpus_df

N_BASE = 150
N_ALL = 170
N_SHARDS = 4
NEWTERM = "освеженныйтермин"  # OOV → identity lemma


def _delta_docs(spark):
    """10 updates of existing urls (text fully replaced — old terms
    disappear) + the 20 genuinely new docs of corpus_df(170)."""
    base = corpus_df(spark, N_BASE)
    allc = corpus_df(spark, N_ALL)
    new = allc.join(base.select("url"), "url", "left_anti")
    updated = (
        base.orderBy("url").limit(10)
        .withColumn("text", F.concat_ws(" ", F.lit(NEWTERM), F.lit("просто")))
        .withColumn(
            "html",
            F.encode(
                F.concat(
                    F.lit("<html><body><p>"), F.col("text"),
                    F.lit("</p></body></html>"),
                ),
                "utf-8",
            ),
        )
    )
    return updated.unionByName(new), updated


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("refresh"))
    base_docs = corpus_df(spark, N_BASE)
    delta, updated = _delta_docs(spark)

    # --- incremental path: base build → delta run → refresh ---
    inc = f"{tmp}/inc"
    idx0 = build_index(base_docs, use_html=True)
    write_index(idx0, f"{inc}/idx")
    idx = read_index(spark, f"{inc}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=N_SHARDS),
                   f"{inc}/segments")
    # positional layer: base snapshot (run 0) + delta run (run 1),
    # folded by the SAME refresh below (lifecycle parity)
    from searchengine_spark.index.positional import (
        build_positional_segments,
        write_positional_segments,
    )
    from searchengine_spark.operators.postings import prepare_docs

    write_positional_segments(
        build_positional_segments(
            prepare_docs(base_docs, use_html=True).select("doc_id", "lemmas"),
            N_SHARDS,
        ),
        f"{inc}/possegs",
    )
    prepared = prepare_docs_counts(delta, use_html=True)
    write_delta_run(
        spark, prepared, inc, idx.term_stats, n_docs=n, avgdl=avgdl,
        n_shards=N_SHARDS, run_id=1,
    )
    write_positional_segments(
        build_positional_segments(
            prepare_docs(delta, use_html=True).select("doc_id", "lemmas"),
            N_SHARDS, run_id=1,
        ),
        f"{inc}/possegs", mode="append",
    )
    r_idx, r_segs = refresh_and_repack(spark, inc)
    r_pos = read_packed(spark, f"{inc}/possegs")

    # --- cold path: the same corpus state built from scratch ---
    cold_docs = base_docs.join(
        updated.select("url"), "url", "left_anti"
    ).unionByName(delta)
    cold = f"{tmp}/cold"
    cidx0 = build_index(cold_docs, use_html=True)
    write_index(cidx0, f"{cold}/idx")
    cidx = read_index(spark, f"{cold}/idx")
    cn, cavgdl = corpus_constants(cidx.doc_stats)
    write_segments(build_segments(cidx, cn, cavgdl, n_shards=N_SHARDS),
                   f"{cold}/segments")
    write_positional_segments(
        build_positional_segments(
            prepare_docs(cold_docs, use_html=True).select("doc_id", "lemmas"),
            N_SHARDS,
        ),
        f"{cold}/possegs",
    )
    c_segs = read_packed(spark, f"{cold}/segments")
    c_pos = read_packed(spark, f"{cold}/possegs")
    return r_idx, r_segs, cidx, c_segs, (cn, cavgdl), r_pos, c_pos


def _seg_key(r):
    return (r["term"], r["shard"])


def _doc_rows(tree):
    """A packed tree's doc-table rows, sorted."""
    return sorted(tuple(r) for r in tree.docs.select(
        *sorted(tree.docs.columns)).collect())


def test_segments_byte_identical_to_cold_rebuild(built):
    _, r_segs, _, c_segs, _, _, _ = built
    rows_r = {_seg_key(r): r for r in r_segs.rows.collect()}
    rows_c = {_seg_key(r): r for r in c_segs.rows.collect()}
    assert rows_r.keys() == rows_c.keys()
    for k, rr in rows_r.items():
        rc = rows_c[k]
        assert rr["run_id"] == rc["run_id"] == 0, k
        for col in (
            "n_docs", "df", "doc_ids", "tfs",
            "block_last_doc", "block_max_score",
            "block_off_ids", "block_off_tfs",
        ):
            assert rr[col] == rc[col], (k, col)
    assert _doc_rows(r_segs) == _doc_rows(c_segs)


def test_idx_tables_identical_to_cold_rebuild(built):
    r_idx, _, cidx, _, (cn, cavgdl), _, _ = built
    rn, ravgdl = corpus_constants(r_idx.doc_stats)
    assert (rn, ravgdl) == (cn, cavgdl)

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(r_idx.doc_stats, "doc_id", "url", "site", "doclen") == rows(
        cidx.doc_stats, "doc_id", "url", "site", "doclen"
    )
    assert rows(r_idx.term_stats, "term", "df", "cf") == rows(
        cidx.term_stats, "term", "df", "cf"
    )
    assert rows(r_idx.postings, "term", "doc_id", "tf") == rows(
        cidx.postings, "term", "doc_id", "tf"
    )


def test_doc_level_supersede_drops_removed_terms(spark, built):
    """An updated doc's OLD terms must stop matching after refresh,
    and the new term must match with exact refreshed stats."""
    r_idx, r_segs, _, _, _, _, _ = built
    n, avgdl = corpus_constants(r_idx.doc_stats)
    hits = search_packed(
        spark, r_segs, r_idx.term_stats, n, avgdl, NEWTERM, k=20
    ).collect()
    assert len(hits) == 10  # exactly the 10 updated docs

    # updated docs must NOT appear for a term only their OLD text had:
    # their old texts were generator paragraphs; pick one old doc's
    # distinctive token stream and assert the updated doc ids are gone
    updated_ids = {r["doc_id"] for r in hits}
    # every posting of an updated doc must carry the new doclen (2)
    pl = (
        r_idx.postings.filter(F.col("doc_id").isin(list(updated_ids)))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
        .collect()
    )
    assert all(r["dl"] == 2 for r in pl)


def test_tombstone_delete_equals_cold_rebuild(spark, tmp_path):
    """write_tombstones + refresh must equal a cold rebuild WITHOUT the
    deleted docs — postings, stats, avgdl, and packed segments all drop
    the docs' contribution exactly (the takedown/opt-out path)."""
    from searchengine_spark.index.segments import write_tombstones

    base_docs = corpus_df(spark, 80)
    inc = str(tmp_path / "inc")
    idx0 = build_index(base_docs, use_html=True)
    write_index(idx0, f"{inc}/idx")
    idx = read_index(spark, f"{inc}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=N_SHARDS),
                   f"{inc}/segments")

    vrows = idx.doc_stats.orderBy("doc_id").limit(10).collect()
    victims = [r["doc_id"] for r in vrows]
    victim_urls = [r["url"] for r in vrows]  # before the swap invalidates idx
    assert write_tombstones(spark, victims, inc, run_id=1) == 10
    # unknown ids are a no-op
    assert write_tombstones(spark, [999999999], inc, run_id=2) == 0
    r_idx, r_segs = refresh_and_repack(spark, inc)
    assert r_idx.doc_stats.filter(F.col("doc_id").isin(victims)).count() == 0
    assert r_idx.postings.filter(F.col("doc_id").isin(victims)).count() == 0

    cold_docs = base_docs.filter(~F.col("url").isin(victim_urls))
    cold = str(tmp_path / "cold")
    cidx0 = build_index(cold_docs, use_html=True)
    write_index(cidx0, f"{cold}/idx")
    cidx = read_index(spark, f"{cold}/idx")
    cn, cavgdl = corpus_constants(cidx.doc_stats)
    write_segments(build_segments(cidx, cn, cavgdl, n_shards=N_SHARDS),
                   f"{cold}/segments")
    c_segs = read_packed(spark, f"{cold}/segments")

    rows_r = {_seg_key(r): r for r in r_segs.rows.collect()}
    rows_c = {_seg_key(r): r for r in c_segs.rows.collect()}
    assert rows_r.keys() == rows_c.keys()
    for k, rr in rows_r.items():
        rc = rows_c[k]
        for col in ("n_docs", "df", "doc_ids", "tfs", "block_max_score"):
            assert rr[col] == rc[col], (k, col)
    assert _doc_rows(r_segs) == _doc_rows(c_segs)
    assert corpus_constants(r_idx.doc_stats) == (cn, cavgdl)


def _mini_index(spark, path, n=60, delta=True):
    """Small base + one delta run at `path`; returns (idx, n, avgdl)."""
    docs = corpus_df(spark, n)
    idx0 = build_index(docs, use_html=True)
    write_index(idx0, f"{path}/idx")
    idx = read_index(spark, f"{path}/idx")
    nn, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, nn, avgdl, n_shards=N_SHARDS),
                   f"{path}/segments")
    if delta:
        d = (
            docs.limit(2)
            .withColumn("text", F.lit(NEWTERM))
            .withColumn("html", F.encode(
                F.concat(F.lit("<html><body>"), F.col("text"),
                         F.lit("</body></html>")), "utf-8"))
        )
        write_delta_run(
            spark, prepare_docs_counts(d, use_html=True), path,
            idx.term_stats, n_docs=nn, avgdl=avgdl, n_shards=N_SHARDS,
            run_id=1,
        )
    return idx, nn, avgdl


def _seg_rows(spark, path):
    return sorted(
        (r["term"], r["shard"], bytes(r["doc_ids"]), bytes(r["tfs"]))
        for r in spark.read.parquet(f"{path}/segments").collect()
    )


def test_recover_rolls_forward_after_pre_swap_crash(spark, tmp_path):
    from searchengine_spark.index.refresh import recover

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _mini_index(spark, a)
    _mini_index(spark, b)
    refresh_and_repack(spark, a)  # clean reference result

    with pytest.raises(RuntimeError, match="injected crash before swap"):
        refresh_and_repack(spark, b, fail_before_swap=True)
    assert recover(b) == "forward"
    assert recover(b) == "clean"  # idempotent
    assert _seg_rows(spark, a) == _seg_rows(spark, b)


def test_recover_completes_mid_swap_crash(spark, tmp_path):
    from searchengine_spark.index.refresh import recover

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _mini_index(spark, a)
    _mini_index(spark, b)
    refresh_and_repack(spark, a)

    with pytest.raises(RuntimeError, match="injected crash between swaps"):
        refresh_and_repack(spark, b, fail_mid_swap=True)
    assert recover(b) == "forward"
    assert _seg_rows(spark, a) == _seg_rows(spark, b)
    # idx must be the refreshed one (run-1 doc meta folded in)
    bidx = read_index(spark, f"{b}/idx")
    aidx = read_index(spark, f"{a}/idx")
    assert sorted(map(tuple, bidx.term_stats.collect())) == sorted(
        map(tuple, aidx.term_stats.collect())
    )


def test_recover_rolls_back_incomplete_temps(spark, tmp_path):
    import os
    import shutil

    from searchengine_spark.index.refresh import recover

    b = str(tmp_path / "b")
    _mini_index(spark, b)
    before = _seg_rows(spark, b)
    with pytest.raises(RuntimeError, match="injected crash before swap"):
        refresh_and_repack(spark, b, fail_before_swap=True)
    # simulate a temp write that died: strip the _SUCCESS marker
    os.remove(f"{b}/segments.refreshing/_SUCCESS")
    assert recover(b) == "rollback"
    assert not os.path.exists(f"{b}/segments.refreshing")
    assert not os.path.exists(f"{b}/idx.refreshing")
    assert _seg_rows(spark, b) == before  # old state untouched


def test_zero_postings_reland_drops_old_postings(spark, tmp_path):
    """A doc re-landed with EMPTY text has a meta row but no postings —
    its OLD postings must drop at refresh (meta-keyed supersede), and
    the result must equal a cold rebuild with the empty doc."""
    base_docs = corpus_df(spark, 60)
    inc = str(tmp_path / "inc")
    idx0 = build_index(base_docs, use_html=True)
    write_index(idx0, f"{inc}/idx")
    idx = read_index(spark, f"{inc}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=N_SHARDS),
                   f"{inc}/segments")
    emptied = (
        base_docs.orderBy("url").limit(2)
        .withColumn("text", F.lit(""))
        .withColumn("html", F.encode(F.lit("<html><body></body></html>"),
                                     "utf-8"))
    )
    write_delta_run(
        spark, prepare_docs_counts(emptied, use_html=True), inc,
        idx.term_stats, n_docs=n, avgdl=avgdl, n_shards=N_SHARDS, run_id=1,
    )
    r_idx, r_segs = refresh_and_repack(spark, inc)
    emptied_ids = {
        r["doc_id"]
        for r in prepare_docs_counts(emptied, use_html=True)
        .select("doc_id").collect()
    }
    assert r_idx.postings.filter(
        F.col("doc_id").isin(list(emptied_ids))
    ).count() == 0
    stats = {
        r["doc_id"]: r["doclen"]
        for r in r_idx.doc_stats.filter(
            F.col("doc_id").isin(list(emptied_ids))
        ).collect()
    }
    assert set(stats) == emptied_ids and all(v == 0 for v in stats.values())

    # cold rebuild: same corpus state (2 docs now empty)
    cold_corpus = base_docs.join(
        emptied.select("url"), "url", "left_anti"
    ).unionByName(emptied)
    cold = str(tmp_path / "cold")
    cidx0 = build_index(cold_corpus, use_html=True)
    write_index(cidx0, f"{cold}/idx")
    cidx = read_index(spark, f"{cold}/idx")
    cn, cavgdl = corpus_constants(cidx.doc_stats)
    assert corpus_constants(r_idx.doc_stats) == (cn, cavgdl)
    write_segments(build_segments(cidx, cn, cavgdl, n_shards=N_SHARDS),
                   f"{cold}/segments")
    rows_r = {_seg_key(r): (bytes(r["doc_ids"]), bytes(r["tfs"]), r["df"])
              for r in r_segs.rows.collect()}
    rows_c = {_seg_key(r): (bytes(r["doc_ids"]), bytes(r["tfs"]), r["df"])
              for r in spark.read.parquet(f"{cold}/segments").collect()}
    assert rows_r == rows_c


def test_tombstone_tied_run_id_still_deletes(spark, tmp_path):
    """deleted-wins tie-break: a tombstone carrying the SAME run_id as
    the doc's latest delta run must still delete it at refresh."""
    from searchengine_spark.index.segments import write_tombstones

    base_docs = corpus_df(spark, 40)
    inc = str(tmp_path / "inc")
    idx0 = build_index(base_docs, use_html=True)
    write_index(idx0, f"{inc}/idx")
    idx = read_index(spark, f"{inc}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=N_SHARDS),
                   f"{inc}/segments")
    updated = base_docs.orderBy("url").limit(1).withColumn(
        "text", F.lit(NEWTERM)
    ).withColumn("html", F.encode(
        F.concat(F.lit("<html><body>"), F.col("text"),
                 F.lit("</body></html>")), "utf-8"))
    prepared = prepare_docs_counts(updated, use_html=True)
    write_delta_run(spark, prepared, inc, idx.term_stats, n_docs=n,
                    avgdl=avgdl, n_shards=N_SHARDS, run_id=1)
    victim = prepared.select("doc_id").collect()[0]["doc_id"]
    # tombstone at the SAME run id as the delta
    assert write_tombstones(spark, [victim], inc, run_id=1) == 1
    r_idx, _ = refresh_and_repack(spark, inc)
    assert r_idx.doc_stats.filter(F.col("doc_id") == victim).count() == 0
    assert r_idx.postings.filter(F.col("doc_id") == victim).count() == 0


def test_positional_segments_byte_identical_to_cold_rebuild(built):
    """Compaction folds positional delta runs and reproduces EXACTLY
    what a cold positional build of the current corpus state produces
    — the same byte-identity contract the TF segments have."""
    *_, r_pos, c_pos = built
    rows_r = {(r["term"], r["shard"]): r for r in r_pos.rows.collect()}
    rows_c = {(r["term"], r["shard"]): r for r in c_pos.rows.collect()}
    assert rows_r.keys() == rows_c.keys()
    for k, rr in rows_r.items():
        rc = rows_c[k]
        assert rr["run_id"] == rc["run_id"] == 0, k
        for col in ("n_docs", "doc_ids", "counts", "positions",
                    "block_last_doc", "block_off_pos"):
            assert rr[col] == rc[col], (k, col)
    assert _doc_rows(r_pos) == _doc_rows(c_pos)


def test_repack_visible_to_new_service_while_old_stays_open(spark, tmp_path):
    """Regression: refresh_and_repack swaps directories by os-level
    rename, which Spark's CacheManager cannot see. With an old
    SearchService still open (its cached scans of the same paths alive
    in the session), a service opened AFTER the refresh used to be
    silently served the PRE-refresh cache — a delta-indexed page
    vanished from doc_stats/term_stats/df_map even though the on-disk
    repacked tree was correct. refresh_and_repack must refreshByPath
    every swapped path so post-swap readers see the new generation."""
    from searchengine_spark.service import SearchService

    base_docs = corpus_df(spark, 80)
    inc = str(tmp_path / "inc")
    idx0 = build_index(base_docs, use_html=True)
    write_index(idx0, f"{inc}/idx")
    idx = read_index(spark, f"{inc}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=N_SHARDS),
                   f"{inc}/segments")

    svc1 = SearchService(spark, inc)
    out = svc1.index_page(
        "https://site1.example/fresh-page",
        html="<html><title>Свежая</title> <body>"
             f"{NEWTERM} поиск</body></html>",
    )
    assert out["result"] is True
    assert svc1.search(NEWTERM, limit=5)["count"] == 1

    # svc1 stays OPEN across the refresh — its caches are the poison
    refresh_and_repack(spark, inc)

    svc2 = SearchService(spark, inc)
    try:
        resp = svc2.search(NEWTERM, limit=5)
        assert resp["count"] == 1
        assert resp["data"][0]["url"] == "https://site1.example/fresh-page"
        assert NEWTERM in svc2._gen.df_map  # term_stats read post-swap state
        # the raw path reads must see the folded generation too
        seg = spark.read.parquet(f"{inc}/segments")
        assert seg.filter(F.col("run_id") != 0).count() == 0
        assert (
            spark.read.parquet(f"{inc}/idx/doc_stats")
            .filter(F.col("doc_id") == out["doc_id"]).count() == 1
        )
    finally:
        svc1.close()
        svc2.close()


def test_recover_marks_discarded_possegs_stale(spark, tmp_path):
    """Positional staleness lifecycle: when recovery rolls the MAIN
    state forward but the possegs repack temp is incomplete, the kept
    pre-compaction snapshot gets the _STALE marker
    (refresh._recover_pos) — a service over it must route phrase
    counts through the exact serve_meta semi-join (pos_stale) instead
    of the fused kernel — and the next successful repack replaces the
    tree and clears the marker."""
    import os

    from searchengine_spark.index.refresh import recover
    from searchengine_spark.service import SearchService

    b = str(tmp_path / "b")
    _mini_index(spark, b, delta=True)
    docs = corpus_df(spark, 60)
    docs_text = prepare_docs(docs, use_html=True).select("doc_id", "text")
    svc = SearchService(spark, b, docs_text=docs_text)
    # builds <b>/possegs from docs_text
    assert svc._positional(svc._gen)[1] is False
    base_phrase = svc.phrase("быстрый поиск", limit=10)
    svc.close()

    with pytest.raises(RuntimeError, match="injected crash before swap"):
        refresh_and_repack(spark, b, fail_before_swap=True)
    # the possegs repack temp died mid-write; main temps are complete
    os.remove(f"{b}/possegs.refreshing/_SUCCESS")
    assert recover(b) == "forward"
    assert os.path.exists(f"{b}/possegs/_STALE")

    svc2 = SearchService(spark, b, docs_text=docs_text)
    try:
        assert svc2._positional(svc2._gen)[1] is True
        # the stale snapshot still serves exact results through the
        # semi-join path (no removed docs in this scenario, so the
        # response matches the pre-crash one)
        assert svc2.phrase("быстрый поиск", limit=10) == base_phrase
    finally:
        svc2.close()

    # a completed repack swaps in a fresh tree — marker gone
    refresh_and_repack(spark, b)
    assert not os.path.exists(f"{b}/possegs/_STALE")
    svc3 = SearchService(spark, b, docs_text=docs_text)
    try:
        assert svc3._positional(svc3._gen)[1] is False
        assert svc3.phrase("быстрый поиск", limit=10) == base_phrase
    finally:
        svc3.close()


def test_refresh_positional_clears_stale_marker_on_uri_base(spark, tmp_path):
    """The _STALE marker goes through the Hadoop FileSystem API, so a
    URI-style base (file://, and likewise hdfs:// or s3a://) clears it
    on refresh_positional — os.remove on such a base silently missed
    the marker and left phrase counts on the slow path for good."""
    from searchengine_spark.index.manifest import fs_exists, fs_touch
    from searchengine_spark.service import SearchService

    b = str(tmp_path / "b")
    _mini_index(spark, b, delta=False)
    uri = f"file://{b}"
    docs_text = prepare_docs(corpus_df(spark, 60), use_html=True).select(
        "doc_id", "text"
    )
    svc = SearchService(spark, uri, docs_text=docs_text)
    try:
        svc._positional(svc._gen)
        marker = f"{uri}/possegs/_STALE"
        fs_touch(spark, marker)
        assert fs_exists(spark, marker)
        svc.refresh_positional()
        assert not fs_exists(spark, marker)
        assert svc._positional(svc._gen)[1] is False
    finally:
        svc.close()


def test_stale_possegs_drop_compacted_away_docs(spark, tmp_path):
    """A stale positional snapshot still holds a doc that compaction
    removed: a phrase-matching doc tombstoned, then compacted away,
    with the possegs repack temp lost. phrase() must exclude it from
    count and page — the kernel's `allowed` filter over the served
    docs — in the one kernel pass an in-sync read takes, plus the one
    collect of the served docs."""
    import os

    from searchengine_spark.index.refresh import recover
    from searchengine_spark.service import SearchService

    b = str(tmp_path / "b")
    _mini_index(spark, b, delta=False)
    docs_text = prepare_docs(corpus_df(spark, 60), use_html=True).select(
        "doc_id", "text"
    )
    q = "быстрый поиск"
    svc = SearchService(spark, b, docs_text=docs_text)
    try:
        before = svc.phrase(q, limit=5)
        victim = before["data"][0]
        assert svc.delete_page(victim["url"])["result"]
        want = svc.phrase(q, limit=5)
    finally:
        svc.close()
    assert want["count"] == before["count"] - 1
    assert victim["doc_id"] not in [d["doc_id"] for d in want["data"]]

    with pytest.raises(RuntimeError, match="injected crash before swap"):
        refresh_and_repack(spark, b, fail_before_swap=True)
    os.remove(f"{b}/possegs.refreshing/_SUCCESS")
    assert recover(b) == "forward"
    svc2 = SearchService(spark, b, docs_text=docs_text)
    try:
        g = svc2._gen
        assert svc2._positional(g)[1] is True
        assert not g.tombstoned  # compaction dropped the doc entirely
        assert svc2.phrase(q, limit=5) == want

        def jobs(stale: bool) -> int:
            group = f"stale-phrase-{stale}"
            spark.sparkContext.setJobGroup(group, group)
            g._slots["pos_stale"] = stale
            try:
                svc2._phrase_uncached(g, q, limit=5)
            finally:
                g._slots["pos_stale"] = True
                spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)
            tracker = spark.sparkContext.statusTracker()
            return len(tracker.getJobIdsForGroup(group))

        assert jobs(True) == jobs(False) + 1
    finally:
        svc2.close()
