"""M2/M3: packed-segment roundtrip, block-max soundness, and
WAND ≡ exhaustive rank/score identity (SURVEY.md §5.2.4)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.segments import (
    BLOCK,
    bm25_scores_np,
    unpack_segment,
)

from .kernels import _pack_group, pack_groups, tables_of, wand_shard_topk

# ---------------------------------------------------------------------------
# kernel-level property tests (no Spark session needed — fast)
# ---------------------------------------------------------------------------


def _mk_group(rng, term, n_postings, n_docs, df=None):
    ids = rng.choice(n_docs * 10, size=n_postings, replace=False).astype(np.int64)
    return pd.DataFrame(
        {
            "term": term,
            "shard": 0,
            "doc_id": ids,
            "tf": rng.randint(1, 20, n_postings).astype(np.int64),
            # a doc's length is the doc's, the same in every group
            "doclen": 20 + ids * 7919 % 180,
            "df": df if df is not None else n_postings,
        }
    )


def test_pack_roundtrip_and_blockmax():
    rng = np.random.RandomState(7)
    g = _mk_group(rng, "t", 1000, 500)
    seg, docs = _pack_group(g, n_docs=5000, avgdl=100.0, run_id=0)
    seg = seg.iloc[0]
    ids, tfs, dls = unpack_segment(seg, tables_of(docs)[0])[:3]
    want = g.sort_values("doc_id")
    assert np.array_equal(ids, want["doc_id"].to_numpy())
    assert np.array_equal(tfs, want["tf"].to_numpy())
    assert np.array_equal(dls, want["doclen"].to_numpy())
    # block-max soundness: every in-block exact score ≤ block max
    scores = bm25_scores_np(tfs, dls, int(seg["df"]), 5000, 100.0)
    for b, bmax in enumerate(seg["block_max_score"]):
        blk = scores[b * BLOCK : (b + 1) * BLOCK]
        assert (blk <= bmax + 0.0).all()
        assert blk.max() == bmax  # exact by construction
    assert seg["block_last_doc"][-1] == ids[-1]
    # compression: packed ids far smaller than raw
    assert len(seg["doc_ids"]) < ids.nbytes


def _brute_force(groups, n_docs, avgdl, conjunctive, k):
    """dict-based exhaustive scorer (the spec)."""
    per_doc: dict[int, list[float]] = {}
    for g in groups:
        sc = bm25_scores_np(
            g["tf"].to_numpy(), g["doclen"].to_numpy(), int(g["df"].iloc[0]),
            n_docs, avgdl,
        )
        for d, s in zip(g["doc_id"].to_numpy(), sc):
            per_doc.setdefault(int(d), []).append(float(s))
    res = [
        (sum(v), d)
        for d, v in per_doc.items()
        if (len(v) == len(groups)) or not conjunctive
    ]
    res.sort(key=lambda t: (-t[0], t[1]))
    return res[:k]


@given(st.integers(0, 10_000), st.booleans(), st.integers(1, 3))
@settings(max_examples=60, deadline=None)
def test_wand_equals_exhaustive(seed, conjunctive, nt):
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 400, 80.0
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 200)), n_docs)
        for i in range(nt)
    ]
    pdf, tables = pack_groups(groups, n_docs, avgdl)
    k = int(rng.randint(1, 30))
    got = wand_shard_topk(pdf, tables, n_docs, avgdl, k, conjunctive, nt)
    if conjunctive:
        got = got[got["n_hit"] == nt]
    got = sorted(
        zip(got["score"].tolist(), got["doc_id"].tolist()),
        key=lambda t: (-t[0], t[1]),
    )
    want = _brute_force(groups, n_docs, avgdl, conjunctive, k)
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_merge_runs_last_wins_kernel():
    """Multi-run merge at query time: later run overrides tf."""
    rng = np.random.RandomState(3)
    g0 = _mk_group(rng, "t", 50, 100)
    g1 = g0.iloc[:10].copy()
    g1["tf"] = g1["tf"] + 100  # updated postings
    seg0, docs0 = _pack_group(g0, 1000, 50.0, run_id=0)
    seg1, docs1 = _pack_group(g1, 1000, 50.0, run_id=1)
    pdf = pd.concat([seg0, seg1], ignore_index=True)
    tables = tables_of(docs0, docs1)
    out = wand_shard_topk(pdf, tables, 1000, 50.0, 5, False, 1)
    # top docs must be the updated (tf+100) ones
    from searchengine_spark.index.wand import _TermList

    tl = _TermList(pdf, tables, 1000, 50.0)
    assert len(tl.ids) == 50  # no duplicate doc_ids after merge
    upd = set(g1["doc_id"].tolist())
    top = set(out.sort_values("score", ascending=False)["doc_id"].tolist()[:5])
    assert top <= upd


def _brute_force_filtered(groups, n_docs, avgdl, conjunctive, k, allowed):
    res = _brute_force(groups, n_docs, avgdl, conjunctive, 10**9)
    res = [(s, d) for s, d in res if d in allowed]
    return res[:k]


@given(st.integers(0, 10_000), st.booleans(), st.integers(1, 3),
       st.integers(0, 100))
@settings(max_examples=60, deadline=None)
def test_wand_with_doc_filter_equals_filtered_exhaustive(
    seed, conjunctive, nt, pct
):
    """Site-filter soundness (packed path, VERDICT r2 #1): with an
    `allowed` doc set, the kernel must return exactly the top-k of the
    exhaustive scorer RESTRICTED to allowed docs — in particular the
    theta seed may only be taken from allowed docs, or block-max
    pruning would drop valid candidates."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 400, 80.0
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 200)), n_docs)
        for i in range(nt)
    ]
    all_ids = np.unique(np.concatenate([g["doc_id"].to_numpy() for g in groups]))
    # allowed = pct% of the doc space (incl. the empty set)
    mask = rng.rand(len(all_ids)) * 100 < pct
    allowed = np.sort(all_ids[mask]).astype(np.int64)
    pdf, tables = pack_groups(groups, n_docs, avgdl)
    k = int(rng.randint(1, 30))
    got = wand_shard_topk(pdf, tables, n_docs, avgdl, k, conjunctive, nt,
                          allowed=allowed)
    if conjunctive:
        got = got[got["n_hit"] == nt]
    got = sorted(
        zip(got["score"].tolist(), got["doc_id"].tolist()),
        key=lambda t: (-t[0], t[1]),
    )
    want = _brute_force_filtered(
        groups, n_docs, avgdl, conjunctive, k, set(allowed.tolist())
    )
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


@given(st.integers(0, 10_000), st.booleans(), st.integers(1, 3),
       st.integers(0, 100))
@settings(max_examples=60, deadline=None)
def test_wand_with_deny_list_equals_filtered_exhaustive(
    seed, conjunctive, nt, pct
):
    """Tombstone deny-list soundness (serving deletes before
    compaction): with an `excluded` doc set, the kernel must return
    exactly the top-k of the exhaustive scorer with those docs REMOVED
    — in particular the theta seed may not be taken from an excluded
    doc, or block-max pruning would drop valid candidates ranked just
    below it."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 400, 80.0
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 200)), n_docs)
        for i in range(nt)
    ]
    all_ids = np.unique(
        np.concatenate([g["doc_id"].to_numpy() for g in groups])
    )
    mask = rng.rand(len(all_ids)) * 100 < pct
    excluded = np.sort(all_ids[mask]).astype(np.int64)
    pdf, tables = pack_groups(groups, n_docs, avgdl)
    k = int(rng.randint(1, 30))
    got = wand_shard_topk(pdf, tables, n_docs, avgdl, k, conjunctive, nt,
                          excluded=excluded)
    if conjunctive:
        got = got[got["n_hit"] == nt]
    got = sorted(
        zip(got["score"].tolist(), got["doc_id"].tolist()),
        key=lambda t: (-t[0], t[1]),
    )
    denied = set(excluded.tolist())
    want = _brute_force_filtered(
        groups, n_docs, avgdl, conjunctive, k,
        set(all_ids.tolist()) - denied,
    )
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


@given(st.integers(0, 10_000), st.booleans(), st.integers(0, 100),
       st.integers(0, 100))
@settings(max_examples=40, deadline=None)
def test_wand_allow_and_deny_compose(seed, conjunctive, pct_a, pct_e):
    """allowed ∧ ¬excluded: the two doc filters compose (a site search
    on a server holding un-compacted deletes)."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 400, 80.0
    nt = 2
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 200)), n_docs)
        for i in range(nt)
    ]
    all_ids = np.unique(
        np.concatenate([g["doc_id"].to_numpy() for g in groups])
    )
    allowed = np.sort(
        all_ids[rng.rand(len(all_ids)) * 100 < pct_a]
    ).astype(np.int64)
    excluded = np.sort(
        all_ids[rng.rand(len(all_ids)) * 100 < pct_e]
    ).astype(np.int64)
    pdf, tables = pack_groups(groups, n_docs, avgdl)
    k = int(rng.randint(1, 30))
    got = wand_shard_topk(pdf, tables, n_docs, avgdl, k, conjunctive, nt,
                          allowed=allowed, excluded=excluded)
    if conjunctive:
        got = got[got["n_hit"] == nt]
    got = sorted(
        zip(got["score"].tolist(), got["doc_id"].tolist()),
        key=lambda t: (-t[0], t[1]),
    )
    servable = set(allowed.tolist()) - set(excluded.tolist())
    want = _brute_force_filtered(
        groups, n_docs, avgdl, conjunctive, k, servable
    )
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_bulk_pack_equals_group_pack_with_tiny_arrow_batches(
    spark, corpus_small
):
    """pack_segments_frame (one hash repartition + sorted mapInPandas
    walk — the bulk path that removes the ~1 ms/group pandas overhead
    applyInPandas pays) is BYTE-identical to the per-group kernel,
    including when (term, shard) groups span Arrow batch boundaries —
    forced here with maxRecordsPerBatch=7 so nearly every group is
    carry-stitched across batches."""
    from searchengine_spark.index import segments as SG
    from searchengine_spark.operators import postings as P
    from searchengine_spark.operators import search as S
    from searchengine_spark.schemas import INDEX_SEGMENTS_SCHEMA

    idx = P.build_index(corpus_small.limit(120), use_html=True)
    n, avgdl = S.corpus_constants(idx.doc_stats)
    enriched, docs = SG.enrich_postings(idx, 3)
    docs_pdf = SG.collect_docs(docs, 0)
    avgtl = float(docs_pdf["tlen"].sum()) / n
    tables = SG.run_tables(docs_pdf)

    def ref(pdf):
        s = int(pdf["shard"].iloc[0])
        t = tables[s]
        return pd.DataFrame([SG._pack_arrays(
            pdf["term"].iloc[0], s, pdf["doc_id"].to_numpy(),
            pdf["tf"].to_numpy(), pdf["ttf"].to_numpy(), t,
            int(pdf["df"].iloc[0]), n, avgdl, 0, avgtl,
        )])

    def key(r):
        return (r["term"], r["shard"], bytes(r["doc_ids"]), bytes(r["tfs"]),
                bytes(r["tfs_title"]),
                tuple(r["block_last_doc"]), tuple(r["block_max_score"]),
                tuple(r["block_max_bnorm"]), tuple(r["block_max_tnorm"]),
                tuple(r["block_off_ids"]), tuple(r["block_off_tfs"]),
                tuple(r["block_off_ttf"]), r["avgtl"], r["df"], r["n_docs"])

    want = sorted(
        key(r) for r in enriched.groupBy("term", "shard").applyInPandas(
            ref, schema=INDEX_SEGMENTS_SCHEMA,
        ).collect()
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf, "10000")
    spark.conf.set(conf, "7")
    try:
        got = sorted(
            key(r) for r in SG.pack_segments_frame(
                enriched, tables, n, avgdl, 0, avgtl
            ).collect()
        )
    finally:
        spark.conf.set(conf, prev)
    assert len(got) == len(want) and got == want
