"""Legacy (reference A3, sum(rank)/max(rank)) scoring on the packed
path must rank-match the relational legacy mode and the oracle."""

import pytest

from searchengine_spark.index.segments import build_segments
from searchengine_spark.index.wand import search_packed
from searchengine_spark.operators.postings import build_index
from searchengine_spark.operators.search import corpus_constants, search
from searchengine_spark.sources.corpus import corpus_df

N = 250


@pytest.fixture(scope="module")
def built(spark):
    idx = build_index(corpus_df(spark, N), use_html=True)
    n, avgdl = corpus_constants(idx.doc_stats)
    segs = build_segments(idx, n, avgdl, n_shards=4).cache()
    segs.rows.count()
    return idx, segs, n, avgdl


@pytest.mark.parametrize("query", ["быстрый поиск", "spark join", "индекс"])
def test_packed_legacy_matches_relational(spark, built, query):
    idx, segs, n, avgdl = built
    rel = search(spark, idx, query, k=15, mode="legacy",
                 constants=(n, avgdl)).collect()
    packed = search_packed(spark, segs, idx.term_stats, n, avgdl, query,
                           k=15, mode="legacy").collect()
    assert [r["doc_id"] for r in packed] == [r["doc_id"] for r in rel]
    for p, r in zip(packed, rel):
        assert p["score"] == pytest.approx(r["score"], rel=1e-12)


def test_packed_legacy_disjunctive(spark, built):
    idx, segs, n, avgdl = built
    out = search_packed(spark, segs, idx.term_stats, n, avgdl,
                        "быстрый nosuchwordxyz", k=10, conjunctive=False,
                        mode="legacy").collect()
    assert len(out) > 0  # OR semantics: one absent term doesn't kill it
    # sum/max of a single present term is exactly 1.0
    assert all(r["score"] == pytest.approx(1.0) for r in out)
