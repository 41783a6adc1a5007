"""Cursor pagination (search_after): kernel page-walk ≡ full ranking
(hypothesis, incl. the exact-sample-totals θ-seed soundness), packed
and relational page walks reconstruct their own full rankings, and the
validation surface."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.segments import read_packed
from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.index.wand import search_packed

from .kernels import pack_groups, wand_shard_topk
from searchengine_spark.operators import postings as P
from searchengine_spark.operators import search as S

# ---------------------------------------------------------------------------
# kernel-level (no Spark session — fast)
# ---------------------------------------------------------------------------


def _mk_group(rng, term, n_postings, n_docs):
    ids = rng.choice(n_docs * 10, size=n_postings, replace=False).astype(
        np.int64
    )
    return pd.DataFrame(
        {
            "term": term,
            "shard": 0,
            "doc_id": ids,
            "tf": rng.randint(1, 20, n_postings).astype(np.int64),
            "doclen": 20 + ids * 7919 % 180,  # one length per doc
            "df": n_postings,
        }
    )


def _rows(frame, conjunctive, nt):
    if conjunctive:
        frame = frame[frame["n_hit"] == nt]
    return sorted(
        zip(frame["score"].tolist(), frame["doc_id"].tolist()),
        key=lambda t: (-t[0], t[1]),
    )


@given(st.integers(0, 10_000), st.booleans(), st.integers(1, 3),
       st.integers(1, 8))
@settings(max_examples=60, deadline=None)
def test_wand_cursor_walk_equals_full_ranking(seed, conjunctive, nt, k):
    """Walking the whole result set page-by-page through `after`
    cursors reproduces the single-shot full ranking EXACTLY — if the
    after-aware θ-seed ever inflated θ above a valid after-cursor doc,
    some page would silently lose it and the walk would diverge."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 300, 80.0
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 150)), n_docs)
        for i in range(nt)
    ]
    pdf, tables = pack_groups(groups, n_docs, avgdl, 0)
    full = _rows(
        wand_shard_topk(pdf, tables, n_docs, avgdl, 10_000, conjunctive, nt),
        conjunctive, nt,
    )
    walked, cursor = [], None
    for _ in range(1000):
        page = _rows(
            wand_shard_topk(pdf, tables, n_docs, avgdl, k, conjunctive, nt,
                            after=cursor),
            conjunctive, nt,
        )[:k]
        if not page:
            break
        walked.extend(page)
        cursor = (page[-1][0], page[-1][1])
    assert [d for _, d in walked] == [d for _, d in full]
    for (ws, _), (fs, _) in zip(walked, full):
        assert ws == fs  # bit-identical scores page over page


def test_wand_cursor_with_deny_list():
    rng = np.random.RandomState(5)
    n_docs, avgdl = 300, 80.0
    groups = [_mk_group(rng, f"t{i}", 120, n_docs) for i in range(2)]
    pdf, tables = pack_groups(groups, n_docs, avgdl, 0)
    full = _rows(
        wand_shard_topk(pdf, tables, n_docs, avgdl, 10_000, False, 2), False, 2
    )
    excluded = np.sort(np.array([d for _, d in full[::3]], dtype=np.int64))
    expect = [(s, d) for s, d in full if d not in set(excluded.tolist())]
    walked, cursor = [], None
    while True:
        page = _rows(
            wand_shard_topk(pdf, tables, n_docs, avgdl, 7, False, 2,
                            excluded=excluded, after=cursor),
            False, 2,
        )[:7]
        if not page:
            break
        walked.extend(page)
        cursor = (page[-1][0], page[-1][1])
    assert walked == expect


def test_cursor_collapse_mutually_exclusive():
    rng = np.random.RandomState(1)
    g = _mk_group(rng, "t0", 30, 300)
    pdf, tables = pack_groups([g], 300, 80.0, 0)
    with pytest.raises(ValueError, match="collapse"):
        wand_shard_topk(
            pdf, tables, 300, 80.0, 5, False, 1, after=(1.0, 0),
            collapse=(2, np.array([], np.int64), np.array([], np.int64)),
        )


# ---------------------------------------------------------------------------
# Spark-level
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def index(spark, corpus_small):
    tabs = P.build_index(corpus_small, use_html=True)
    for t in (tabs.postings, tabs.term_stats, tabs.doc_stats):
        t.cache().count()
    return tabs


@pytest.fixture(scope="module")
def constants(index):
    return S.corpus_constants(index.doc_stats)


@pytest.fixture(scope="module")
def segments(spark, index, constants, tmp_path_factory):
    n, avgdl = constants
    seg = build_segments(index, n, avgdl, n_shards=4)
    path = str(tmp_path_factory.mktemp("aseg") / "index_segments")
    write_segments(seg, path)
    df = read_packed(spark, path).cache()
    df.rows.count()
    return df


def test_packed_cursor_pages_slice_full_ranking(
    spark, index, segments, constants
):
    n, avgdl = constants
    full = search_packed(
        spark, segments, index.term_stats, n, avgdl, "поиск", k=15,
        conjunctive=False,
    ).collect()
    assert len(full) == 15
    p1 = full[:5]
    cursor = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = search_packed(
        spark, segments, index.term_stats, n, avgdl, "поиск", k=5,
        conjunctive=False, after=cursor,
    ).collect()
    assert [r["doc_id"] for r in p2] == [r["doc_id"] for r in full[5:10]]
    assert [r["score"] for r in p2] == [r["score"] for r in full[5:10]]
    # cursor past the end → empty, no exception
    tail = full[-1]
    beyond = search_packed(
        spark, segments, index.term_stats, n, avgdl, "поиск", k=5,
        conjunctive=False,
        after=(-1e18, 0),
    ).count()
    assert beyond == 0
    assert tail is not None


def test_relational_cursor_matches_offset(spark, index, constants):
    full = S.search(
        spark, index, "запрос страница", k=12, conjunctive=False,
        constants=constants,
    ).collect()
    cursor = (full[3]["score"], full[3]["doc_id"])
    page = S.search(
        spark, index, "запрос страница", k=4, conjunctive=False,
        constants=constants, after=cursor,
    ).collect()
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in full[4:8]]


def test_cursor_validation(spark, index, segments, constants):
    n, avgdl = constants
    with pytest.raises(ValueError, match="search_after"):
        S.search(spark, index, "поиск", offset=5, after=(1.0, 0),
                 constants=constants)
    with pytest.raises(ValueError, match="search_after"):
        search_packed(
            spark, segments, index.term_stats, n, avgdl, "поиск",
            offset=5, after=(1.0, 0),
        )
    with pytest.raises(ValueError, match="search_after"):
        search_packed(
            spark, segments, index.term_stats, n, avgdl, "поиск",
            collapse_n=2, after=(1.0, 0), doc_stats=index.doc_stats,
        )


def test_service_search_after(spark, tmp_path_factory, monkeypatch):
    """Service cursor pages: page2(after=page1 cursor) ≡ rows [5,10) of
    the full ranking; count stays the page-1 total; invalid combos
    rejected; and (VERDICT r4 #6) the cursor-independent count is
    cached per (query, site, conjunctive) — seeded by the fused page-1
    pass, so NO cursor page after it asks the kernel for a count, and
    a cursor page with a cold cache makes ONE kernel pass for both."""
    import searchengine_spark.service as service_mod
    from searchengine_spark.operators.postings import (
        build_index, prepare_docs, write_index,
    )
    from searchengine_spark.service import SearchService
    from searchengine_spark.sources.corpus import corpus_df

    base = str(tmp_path_factory.mktemp("aftersvc") / "index")
    docs = corpus_df(spark, 150)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = S.corpus_constants(idx.doc_stats)
    seg = build_segments(idx, n, avgdl, n_shards=4)
    write_segments(seg, f"{base}/segments")
    svc = SearchService(
        spark, base,
        docs_text=prepare_docs(docs, use_html=True).select("doc_id", "text"),
    )
    calls = []  # one entry per kernel pass: did it count?
    real_fused = service_mod.search_packed_fused

    def counting(*a, **k):
        calls.append(k.get("_count", True))
        return real_fused(*a, **k)

    monkeypatch.setattr(service_mod, "search_packed_fused", counting)
    try:
        full = svc.search("быстрый поиск", conjunctive=False, limit=10)
        p1 = full["data"][:5]
        cursor = (p1[-1]["relevance"], p1[-1]["doc_id"])
        p2 = svc.search("быстрый поиск", conjunctive=False, limit=5,
                        after=cursor)
        assert [d["doc_id"] for d in p2["data"]] == [
            d["doc_id"] for d in full["data"][5:10]
        ]
        assert p2["count"] == full["count"]
        # two-page walk counted ZERO times after page 1: the fused
        # page-1 pass seeded the cache, the cursor page read it
        assert calls == [True, False], calls
        # a cursor page for a query whose page 1 was never fetched
        # makes ONE kernel pass that also counts; later pages of it
        # read the cache
        pA = svc.search("поиск", conjunctive=False, limit=3,
                        after=cursor)
        assert calls[2:] == [True], calls
        pB = svc.search("поиск", conjunctive=False, limit=3,
                        after=(pA["data"][-1]["relevance"],
                               pA["data"][-1]["doc_id"]))
        assert calls[2:] == [True, False], calls
        assert pB["count"] == pA["count"]
        assert pA["count"] == svc.search(
            "поиск", conjunctive=False, limit=3
        )["count"]
        for bad in (
            dict(offset=5), dict(blend=1.0), dict(collapse=1),
            dict(correct=True),
        ):
            with pytest.raises(ValueError, match="search_after"):
                svc.search("быстрый", conjunctive=False,
                           after=cursor, **bad)
    finally:
        svc.close()


# ---------------------------------------------------------------------------
# collapse-aware cursors (VERDICT r4 #8): page-walk ≡ full collapsed
# ranking, with the cursor carrying per-site consumed counts
# ---------------------------------------------------------------------------


def _site_map_for(n_docs):
    ids = np.arange(n_docs * 10, dtype=np.int64)
    return ids, (ids % 7).astype(np.int64)  # 7 sites


def _collapsed_full(frame, conjunctive, nt, n_cap, map_ids, map_sites):
    """Stateful python reference: walk the FULL ranking in (score desc,
    doc_id asc) order keeping at most n_cap per site."""
    rows = _rows(frame, conjunctive, nt)
    per_site: dict = {}
    out = []
    for sc, d in rows:
        s = int(map_sites[np.searchsorted(map_ids, d)])
        c = per_site.get(s, 0)
        if c < n_cap:
            per_site[s] = c + 1
            out.append((sc, d, s))
    return out


@given(st.integers(0, 10_000), st.booleans(), st.integers(1, 3),
       st.integers(1, 6), st.integers(1, 3))
@settings(max_examples=60, deadline=None)
def test_wand_collapsed_cursor_walk_equals_full_ranking(
    seed, conjunctive, nt, k, n_cap
):
    """Walking the whole COLLAPSED result set page-by-page through
    (after cursor + per-site consumed counts) reproduces the single-
    shot full collapsed ranking EXACTLY — rows, order, and scores.
    Any unsound remaining-cap bookkeeping (or a θ-seed inflated above
    a post-cursor collapse survivor) would diverge the walk."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 300, 80.0
    map_ids, map_sites = _site_map_for(n_docs)
    collapse = (n_cap, map_ids, map_sites)
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 150)), n_docs)
        for i in range(nt)
    ]
    pdf, tables = pack_groups(groups, n_docs, avgdl, 0)
    # single-shot reference: uncollapsed exhaustive ranking, then the
    # stateful collapse walk in python
    full_frame = wand_shard_topk(pdf, tables, n_docs, avgdl, 10_000, conjunctive,
                                 nt)
    want = _collapsed_full(full_frame, conjunctive, nt, n_cap,
                           map_ids, map_sites)

    walked, cursor, state = [], None, {}
    for _ in range(1000):
        frame = wand_shard_topk(
            pdf, tables, n_docs, avgdl, k, conjunctive, nt,
            collapse=collapse, after=cursor,
            consumed=(
                np.array(sorted(state), dtype=np.int64),
                np.array([state[s] for s in sorted(state)],
                         dtype=np.int64),
            ) if cursor is not None else None,
        )
        if conjunctive:
            frame = frame[frame["n_hit"] == nt]
        page = sorted(
            zip(frame["score"].tolist(), frame["doc_id"].tolist(),
                frame["site_id"].tolist()),
            key=lambda t: (-t[0], t[1]),
        )
        # driver-merge equivalent for ONE shard: re-apply remaining
        # caps over the merged order, take k
        kept = []
        per = dict(state)
        for sc, d, s in page:
            c = per.get(s, 0)
            if c < n_cap:
                per[s] = c + 1
                kept.append((sc, d, s))
                if len(kept) >= k:
                    break
        if not kept:
            break
        walked.extend(kept)
        for _, _, s in kept:
            state[s] = state.get(s, 0) + 1
        cursor = (kept[-1][0], kept[-1][1])
    assert [(d, s) for _, d, s in walked] == [(d, s) for _, d, s in want]
    for (ws, _, _), (fs, _, _) in zip(walked, want):
        assert ws == fs  # bit-identical scores page over page


def test_wand_collapsed_cursor_requires_consumed():
    rng = np.random.RandomState(1)
    n_docs = 100
    map_ids, map_sites = _site_map_for(n_docs)
    pdf, tables = pack_groups([_mk_group(rng, "t0", 50, n_docs)], n_docs,
                              80.0, 0)
    with pytest.raises(ValueError, match="consumed"):
        wand_shard_topk(pdf, tables, n_docs, 80.0, 5, False, 1,
                        collapse=(2, map_ids, map_sites),
                        after=(1.0, 0))


def test_service_collapsed_cursor_pages(spark, tmp_path_factory):
    """Collapse-aware cursor pagination through the SERVICE (VERDICT
    r4 #8): walking pages with (after cursor + the site_counts each
    response returns) reproduces the single-shot collapsed ranking
    exactly, count stays the uncollapsed page-1 total, and the
    validation surface holds."""
    from searchengine_spark.operators.postings import (
        build_index, prepare_docs, write_index,
    )
    from searchengine_spark.service import SearchService
    from searchengine_spark.sources.corpus import corpus_df

    base = str(tmp_path_factory.mktemp("colcur") / "index")
    docs = corpus_df(spark, 150)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = S.corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=4),
                   f"{base}/segments")
    svc = SearchService(
        spark, base,
        docs_text=prepare_docs(docs, use_html=True).select("doc_id", "text"),
    )
    try:
        q, n_cap = "быстрый поиск", 3
        full = svc.search(q, conjunctive=False, collapse=n_cap, limit=100)
        assert "site_counts" in full
        want = [(d["doc_id"], d["relevance"]) for d in full["data"]]
        walked, cursor, sites = [], None, None
        for _ in range(100):
            page = svc.search(
                q, conjunctive=False, collapse=n_cap, limit=4,
                after=cursor, after_sites=sites,
            ) if cursor is not None else svc.search(
                q, conjunctive=False, collapse=n_cap, limit=4,
            )
            assert page["count"] == full["count"]  # uncollapsed total
            if not page["data"]:
                break
            walked.extend(
                (d["doc_id"], d["relevance"]) for d in page["data"]
            )
            last = page["data"][-1]
            cursor = (last["relevance"], last["doc_id"])
            sites = page["site_counts"]
        assert walked == want
        # cumulative site_counts: the last page's map counts the whole
        # walk, capped at n per site
        assert sum(sites.values()) == len(want)
        assert max(sites.values()) <= n_cap
        # validation: collapsed cursor without after_sites rejected
        with pytest.raises(ValueError, match="after_sites"):
            svc.search(q, conjunctive=False, collapse=n_cap,
                       after=cursor)
        with pytest.raises(ValueError, match="after_sites"):
            svc.search(q, conjunctive=False, after_sites={})
    finally:
        svc.close()
