"""Per-site result diversification ("host collapsing"): kernel-level
collapse ≡ brute-force collapsed spec (hypothesis), packed ≡ relational
rank identity on the fixture corpus, cap/merge/offset semantics, and
the fused count staying uncollapsed.

Semantics: the ranked result list keeps at most n hits per site — the
"omitted similar results" behaviour of web search engines (public
Lucene analog: grouping / collapse). No reference-repo analog; the
exactness arguments live in index/wand.py (_collapse_frame,
_theta_seed)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from searchengine_spark.index.segments import read_packed
from searchengine_spark.index.segments import bm25_scores_np
from searchengine_spark.index.wand import (
    _site_cap_mask,
    _site_of,
    match_count_packed,
    search_packed,
    search_packed_fused,
    site_map_frame,
)
from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.operators import postings as P
from searchengine_spark.operators import search as S

from .kernels import pack_groups, wand_shard_topk

# ---------------------------------------------------------------------------
# kernel-level (no Spark session — fast)
# ---------------------------------------------------------------------------


def test_site_cap_mask_matches_counter():
    rng = np.random.RandomState(11)
    for _ in range(50):
        m = int(rng.randint(0, 60))
        sites = rng.randint(0, 7, m).astype(np.int64)
        n = int(rng.randint(1, 4))
        got = _site_cap_mask(sites, n)
        seen: dict = {}
        want = np.zeros(m, dtype=bool)
        for i, s in enumerate(sites):
            c = seen.get(int(s), 0)
            want[i] = c < n
            seen[int(s)] = c + 1
        assert np.array_equal(got, want)


def test_site_of_lookup_and_fallback():
    map_ids = np.array([2, 5, 9], dtype=np.int64)
    map_sites = np.array([100, 100, 200], dtype=np.int64)
    ids = np.array([2, 3, 5, 9, 11], dtype=np.int64)
    got = _site_of(ids, map_ids, map_sites)
    # absent ids (3, 11) fall back to themselves: singleton sites
    assert got.tolist() == [100, 3, 100, 200, 11]


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


def _brute_collapsed(groups, n_docs, avgdl, conjunctive, k, n_cap, site_of):
    """Spec: score exhaustively, sort (score desc, doc_id asc), keep at
    most n_cap per site in that order, cut to k."""
    per_doc: dict[int, list[float]] = {}
    for g in groups:
        sc = bm25_scores_np(
            g["tf"].to_numpy(), g["doclen"].to_numpy(),
            int(g["df"].iloc[0]), n_docs, avgdl,
        )
        for d, s in zip(g["doc_id"].to_numpy(), sc):
            per_doc.setdefault(int(d), []).append(float(s))
    res = [
        (sum(v), d)
        for d, v in per_doc.items()
        if (len(v) == len(groups)) or not conjunctive
    ]
    res.sort(key=lambda t: (-t[0], t[1]))
    seen: dict = {}
    out = []
    for s, d in res:
        site = site_of(d)
        c = seen.get(site, 0)
        if c < n_cap:
            seen[site] = c + 1
            out.append((s, d))
            if len(out) == k:
                break
    return out


@given(st.integers(0, 10_000), st.booleans(), st.integers(1, 3),
       st.integers(1, 3), st.integers(2, 9))
@settings(max_examples=60, deadline=None)
def test_wand_collapse_equals_collapsed_exhaustive(
    seed, conjunctive, nt, n_cap, n_sites
):
    """Single-shard kernel with collapse ≡ the collapsed spec: the
    kernel's post-cap rank order, cut to k, is exactly the exhaustive
    scorer's cap-then-top-k — including the collapse-aware θ-seed
    (an unsound seed would drop docs the collapsed result must keep)."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 400, 80.0
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 200)), n_docs)
        for i in range(nt)
    ]
    pdf, tables = pack_groups(groups, n_docs, avgdl, 0)
    k = int(rng.randint(1, 15))
    # deterministic doc→site map over the whole id universe
    universe = np.unique(
        np.concatenate([g["doc_id"].to_numpy() for g in groups])
    )
    map_ids = universe
    map_sites = (universe % n_sites) + 10_000  # site ids disjoint from docs
    got = wand_shard_topk(
        pdf, tables, n_docs, avgdl, k, conjunctive, nt,
        collapse=(n_cap, map_ids, map_sites),
    )
    if conjunctive:
        got = got[got["n_hit"] == nt]
    # kernel returns post-cap top-(k·n) in rank order; single shard ⇒
    # its first k rows ARE the collapsed top-k
    got = sorted(
        zip(got["score"].tolist(), got["doc_id"].tolist(),
            got["site_id"].tolist()),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    want = _brute_collapsed(
        groups, n_docs, avgdl, conjunctive, k, n_cap,
        lambda d: int(d % n_sites) + 10_000,
    )
    assert [d for _, d, _ in got] == [d for _, d in want]
    for (gs, _, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)
    # returned site ids are the map's
    for _, d, sid in got:
        assert sid == int(d % n_sites) + 10_000


# ---------------------------------------------------------------------------
# Spark-level: packed ≡ relational on the fixture corpus
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
    path = str(tmp_path_factory.mktemp("cseg") / "index_segments")
    write_segments(seg, path)
    df = read_packed(spark, path).cache()
    df.rows.count()
    return df


COLLAPSE_CASES = [
    ("индекс", 1, True), ("индекс", 2, True),
    ("запрос страница", 1, True), ("запрос страница", 2, False),
    ("поиск", 3, False), ("лемма документ", 1, False),
]


@pytest.mark.parametrize("query,n_cap,conj", COLLAPSE_CASES)
def test_collapsed_packed_equals_relational(
    spark, index, segments, constants, query, n_cap, conj
):
    n, avgdl = constants
    got = search_packed(
        spark, segments, index.term_stats, n, avgdl, query, k=10,
        conjunctive=conj, doc_stats=index.doc_stats, n_shards=4,
        collapse_n=n_cap,
    ).collect()
    want = S.search_collapsed(
        spark, index, query, n_cap, k=10, conjunctive=conj,
        constants=constants,
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)
    # cap actually enforced
    site_of = {
        r["doc_id"]: r["site"] for r in index.doc_stats.collect()
    }
    counts: dict = {}
    for r in got:
        counts[site_of[r["doc_id"]]] = counts.get(site_of[r["doc_id"]], 0) + 1
    assert all(c <= n_cap for c in counts.values())


def test_collapse_large_n_equals_plain_search(
    spark, index, segments, constants
):
    n, avgdl = constants
    got = search_packed(
        spark, segments, index.term_stats, n, avgdl, "индекс", k=10,
        doc_stats=index.doc_stats, n_shards=4, collapse_n=10_000,
    ).collect()
    want = search_packed(
        spark, segments, index.term_stats, n, avgdl, "индекс", k=10,
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]


def test_collapse_offset_slices_collapsed_ranking(
    spark, index, segments, constants
):
    n, avgdl = constants
    full = search_packed(
        spark, segments, index.term_stats, n, avgdl, "поиск", k=8,
        conjunctive=False, doc_stats=index.doc_stats, n_shards=4,
        collapse_n=2,
    ).collect()
    page = search_packed(
        spark, segments, index.term_stats, n, avgdl, "поиск", k=4,
        offset=4, conjunctive=False, doc_stats=index.doc_stats,
        n_shards=4, collapse_n=2,
    ).collect()
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in full[4:8]]


def test_fused_collapse_count_stays_uncollapsed(
    spark, index, segments, constants
):
    n, avgdl = constants
    hits, count = search_packed_fused(
        spark, segments, index.term_stats, n, avgdl, "поиск", k=5,
        conjunctive=False, doc_stats=index.doc_stats, n_shards=4,
        collapse_n=1,
    )
    want = match_count_packed(
        spark, segments, index.term_stats, n, "поиск", conjunctive=False,
    )
    assert count == want
    assert len(hits) <= 5
    # one per site with n=1
    site_of = {r["doc_id"]: r["site"] for r in index.doc_stats.collect()}
    sites = [site_of[d] for d, _ in hits]
    assert len(sites) == len(set(sites))


def test_collapse_precomputed_site_map(spark, index, segments, constants):
    """A warm server passes a prebuilt (cached) site_map frame — same
    result as deriving it from doc_stats per call."""
    n, avgdl = constants
    smap = site_map_frame(
        index.doc_stats, 4
    ).repartition(4, "shard").cache()
    smap.count()
    got = search_packed(
        spark, segments, index.term_stats, n, avgdl, "индекс", k=10,
        collapse_n=2, site_map=smap,
    ).collect()
    want = search_packed(
        spark, segments, index.term_stats, n, avgdl, "индекс", k=10,
        collapse_n=2, doc_stats=index.doc_stats, n_shards=4,
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    smap.unpersist()


def test_collapse_argument_validation(spark, index, segments, constants):
    n, avgdl = constants
    with pytest.raises(ValueError, match="mutually exclusive"):
        search_packed_fused(
            spark, segments, index.term_stats, n, avgdl, "индекс",
            site="site1.example", collapse_n=2, doc_stats=index.doc_stats,
        )
    with pytest.raises(ValueError, match="collapse_n"):
        search_packed_fused(
            spark, segments, index.term_stats, n, avgdl, "индекс",
            collapse_n=0, doc_stats=index.doc_stats,
        )
    with pytest.raises(ValueError, match="site_map"):
        search_packed_fused(
            spark, segments, index.term_stats, n, avgdl, "индекс",
            collapse_n=2,
        )
    with pytest.raises(ValueError, match="n_per_site"):
        S.search_collapsed(spark, index, "индекс", 0)
