"""Per-term query boosts (Lucene term^w): kernel with boosts ≡
boosted exhaustive spec (hypothesis), packed ≡ relational on the
fixture corpus, boost syntax parsing, validation, service smoke."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.segments import read_packed
from searchengine_spark.index.segments import (
    bm25_scores_np,
    build_segments,
    write_segments,
)
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


def _brute_boosted(groups, n_docs, avgdl, conjunctive, k, boosts):
    per_doc: dict[int, list[float]] = {}
    for g in groups:
        term = g["term"].iloc[0]
        sc = bm25_scores_np(
            g["tf"].to_numpy(), g["doclen"].to_numpy(),
            int(g["df"].iloc[0]), n_docs, avgdl,
        ) * boosts.get(term, 1.0)
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
def test_wand_boosted_equals_boosted_exhaustive(seed, conjunctive, nt):
    """Boosted kernel ≡ boosted spec: boosts scale scores AND the
    packed block-max bounds, so the θ-seed / essential-list / aligned
    block pruning must stay rank-exact under any positive weights."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 400, 80.0
    groups = [
        _mk_group(rng, f"t{i}", int(rng.randint(5, 200)), n_docs)
        for i in range(nt)
    ]
    pdf, tables = pack_groups(groups, n_docs, avgdl, 0)
    k = int(rng.randint(1, 30))
    # random positive weights, incl. extreme up/down boosts
    boosts = {
        f"t{i}": float(rng.choice([0.1, 0.5, 1.0, 2.0, 10.0]))
        for i in range(nt)
    }
    got = wand_shard_topk(
        pdf, tables, n_docs, avgdl, k, conjunctive, nt, boosts=boosts
    )
    if conjunctive:
        got = got[got["n_hit"] == nt]
    got = sorted(
        zip(got["score"].tolist(), got["doc_id"].tolist()),
        key=lambda t: (-t[0], t[1]),
    )
    want = _brute_boosted(groups, n_docs, avgdl, conjunctive, k, boosts)
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_boost_validation():
    rng = np.random.RandomState(3)
    g = _mk_group(rng, "t0", 50, 400)
    pdf, tables = pack_groups([g], 400, 80.0, 0)
    with pytest.raises(ValueError, match="boost"):
        wand_shard_topk(pdf, tables, 400, 80.0, 5, False, 1, mode="legacy",
                        boosts={"t0": 2.0})
    with pytest.raises(ValueError, match="boost"):
        wand_shard_topk(pdf, tables, 400, 80.0, 5, False, 1, boosts={"t0": -1.0})


def test_parse_boosted_query():
    q, b = S.parse_boosted_query("индекс^2.5 поиск")
    assert q == "индекс поиск"
    assert b == {lem: 2.5 for lem in S.lemmatize_query("индекс")}
    # unboosted / malformed tokens pass through
    q2, b2 = S.parse_boosted_query("поиск word^")
    assert q2 == "поиск word^" and b2 == {}
    # zero / negative boosts rejected like every other boost entry
    # point (wand kernels, service.search) — ADVICE r4
    with pytest.raises(ValueError, match="boost"):
        S.parse_boosted_query("индекс^0 поиск")
    with pytest.raises(ValueError, match="boost"):
        S.parse_boosted_query("индекс^0.0")
    # duplicate boost keeps the max
    q3, b3 = S.parse_boosted_query("индекс^2 индекс^3")
    assert set(b3.values()) == {3.0}
    assert q3 == "индекс индекс"


# ---------------------------------------------------------------------------
# Spark-level: packed ≡ relational with boosts
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
    path = str(tmp_path_factory.mktemp("bseg") / "index_segments")
    write_segments(seg, path)
    df = read_packed(spark, path).cache()
    df.rows.count()
    return df


@pytest.mark.parametrize("query,conj,weights", [
    ("запрос страница", True, {"запрос": 3.0}),
    ("запрос страница", False, {"страница": 0.2}),
    ("быстрый поиск индекс", False, {"быстрый": 5.0, "индекс": 0.5}),
])
def test_boosted_packed_equals_relational(
    spark, index, segments, constants, query, conj, weights
):
    n, avgdl = constants
    # weights are keyed by LEMMA on both paths
    boosts = {}
    for t, w in weights.items():
        for lem in S.lemmatize_query(t):
            boosts[lem] = w
    got = search_packed(
        spark, segments, index.term_stats, n, avgdl, query, k=10,
        conjunctive=conj, boosts=boosts,
    ).collect()
    want = S.search(
        spark, index, query, k=10, conjunctive=conj, constants=constants,
        boosts=boosts,
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)
    # and the boost actually changes the ranking vs unboosted
    plain = search_packed(
        spark, segments, index.term_stats, n, avgdl, query, k=10,
        conjunctive=conj,
    ).collect()
    assert [r["score"] for r in got] != [r["score"] for r in plain]


def test_metrics_kernel_boost_scales_theta():
    """The kernel trailer honors boosts: a single-term query's θ-seed
    scales linearly with the boost (scores AND block maxima scale), so
    explain() describes the boosted kernels search actually runs."""
    from searchengine_spark.index.wand import wand_shard

    rng = np.random.RandomState(9)
    g = _mk_group(rng, "t0", 400, 400)
    pdf, tables = pack_groups([g], 400, 80.0, 0)
    base = wand_shard(pdf, tables, 400, 80.0, 5, False, 1)
    boosted = wand_shard(pdf, tables, 400, 80.0, 5, False, 1, boosts={"t0": 3.0})
    base, boosted = base[base["is_trailer"]], boosted[boosted["is_trailer"]]
    t0, t1 = float(base["theta"].iloc[0]), float(boosted["theta"].iloc[0])
    assert t0 > 0
    assert t1 == pytest.approx(3.0 * t0, rel=1e-12)
