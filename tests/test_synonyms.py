"""Query-time synonym expansion (OR-expansion-with-discount):
expansion semantics, relational ≡ identity cases, packed ≡ relational,
service endpoint behaviour."""

import pytest

from searchengine_spark.index.segments import read_packed
from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.index.wand import search_packed_fused
from searchengine_spark.operators import postings as P
from searchengine_spark.operators import search as S


def test_expand_synonyms_semantics():
    lemmas, boosts = S.expand_synonyms(
        ["a", "b"], {"a": ["x", "b"], "b": ["y"]}, weight=0.3
    )
    # originals first, in order; synonyms appended in scan order;
    # 'b' is an original → never downgraded to a synonym slot
    assert lemmas == ["a", "b", "x", "y"]
    assert boosts == {"a": 1.0, "b": 1.0, "x": 0.3, "y": 0.3}
    # shared synonym keeps ONE discounted slot
    l2, b2 = S.expand_synonyms(["a", "b"], {"a": ["x"], "b": ["x"]})
    assert l2 == ["a", "b", "x"] and b2["x"] == 0.5
    with pytest.raises(ValueError, match="weight"):
        S.expand_synonyms(["a"], {}, weight=0.0)
    with pytest.raises(ValueError, match="weight"):
        S.expand_synonyms(["a"], {}, weight=1.5)


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
    path = str(tmp_path_factory.mktemp("syseg") / "index_segments")
    write_segments(seg, path)
    df = read_packed(spark, path).cache()
    df.rows.count()
    return df


SYN = {
    lem: S.lemmatize_query("медленный")
    for lem in S.lemmatize_query("быстрый")
}


def test_synonyms_identity_cases(spark, index, constants):
    # empty mapping ≡ plain disjunctive search
    got = S.search_with_synonyms(
        spark, index, "быстрый поиск", {}, k=10, constants=constants
    ).collect()
    want = S.search(
        spark, index, "быстрый поиск", k=10, conjunctive=False,
        constants=constants,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # weight=1.0 ≡ plain disjunctive search over the expanded query
    got1 = S.search_with_synonyms(
        spark, index, "быстрый", SYN, weight=1.0, k=10, constants=constants
    ).collect()
    want1 = S.search(
        spark, index, "быстрый медленный", k=10, conjunctive=False,
        constants=constants,
    ).collect()
    assert [r["doc_id"] for r in got1] == [r["doc_id"] for r in want1]
    for g, w in zip(got1, want1):
        assert g["score"] == pytest.approx(w["score"], rel=1e-12)


def test_synonyms_packed_equals_relational(spark, index, segments, constants):
    n, avgdl = constants
    lemmas, boosts = S.expand_synonyms(
        S.lemmatize_query("быстрый поиск"), SYN, weight=0.4
    )
    hits, count = search_packed_fused(
        spark, segments, index.term_stats, n, avgdl, "unused",
        lemmas=lemmas, boosts=boosts, conjunctive=False, k=10,
    )
    want = S.search_with_synonyms(
        spark, index, "быстрый поиск", SYN, weight=0.4, k=10,
        constants=constants,
    ).collect()
    assert [d for d, _ in hits] == [r["doc_id"] for r in want]
    for (_, gs), w in zip(hits, want):
        assert gs == pytest.approx(w["score"], rel=1e-9)
    # expansion matched MORE docs than the unexpanded disjunction
    plain = S.search(
        spark, index, "быстрый поиск", k=1000, conjunctive=False,
        constants=constants,
    ).count()
    assert count >= plain


def test_service_synonyms_smoke(spark, tmp_path_factory):
    """Service synonym expansion: expanded request matches ≥ plain,
    conjunctive/legacy rejected, cache key distinguishes mappings."""
    from searchengine_spark.operators.postings import (
        build_index, prepare_docs, write_index,
    )
    from searchengine_spark.service import SearchService
    from searchengine_spark.sources.corpus import corpus_df

    base = str(tmp_path_factory.mktemp("synsvc") / "index")
    docs = corpus_df(spark, 120)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = S.corpus_constants(idx.doc_stats)
    seg = build_segments(idx, n, avgdl, n_shards=4)
    write_segments(seg, f"{base}/segments")
    svc = SearchService(
        spark, base,
        docs_text=prepare_docs(docs, use_html=True).select("doc_id", "text"),
    )
    try:
        plain = svc.search("быстрый", conjunctive=False, limit=5)
        expanded = svc.search(
            "быстрый", conjunctive=False, limit=5, synonyms=SYN
        )
        assert expanded["count"] >= plain["count"]
        # distinct cache entries for distinct mappings
        assert expanded != plain
        with pytest.raises(ValueError, match="disjunctive"):
            svc.search("быстрый", synonyms=SYN)  # conjunctive default
        with pytest.raises(ValueError, match="bm25"):
            svc.search("быстрый", conjunctive=False, mode="legacy",
                       synonyms=SYN)
    finally:
        svc.close()
