"""Prefix (wildcard) retrieval: bounded expansion + disjunctive WAND
== relational spec == independent Python reference."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import read_packed
from searchengine_spark.operators import postings as P
from searchengine_spark.operators import prefix as PX
from searchengine_spark.operators import search as S
from searchengine_spark.operators.search import bm25_score_py


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
    from searchengine_spark.index.segments import (
        build_segments,
        write_segments,
    )

    n, avgdl = constants
    seg = build_segments(index, n, avgdl, n_shards=4)
    path = str(tmp_path_factory.mktemp("pfxseg") / "index_segments")
    write_segments(seg, path)
    df = read_packed(spark, path).cache()
    df.rows.count()
    return df


def test_expand_prefix_rank_and_cap(spark, index):
    dict_rows = [
        (r["term"], r["df"]) for r in index.term_stats.collect()
    ]
    want_all = sorted(
        ((t, d) for t, d in dict_rows if t.startswith("по")),
        key=lambda x: (-x[1], x[0]),
    )
    got = PX.expand_prefix(index.term_stats, "по", max_expansions=3)
    assert got == [t for t, _ in want_all[:3]]
    assert PX.expand_prefix(index.term_stats, "zzzznope") == []
    with pytest.raises(ValueError):
        PX.expand_prefix(index.term_stats, "")


@pytest.mark.parametrize("pfx", ["по", "s", "инд"])
def test_packed_equals_relational(spark, index, constants, segments, pfx):
    n, avgdl = constants
    rel = {
        r["doc_id"]: r["score"]
        for r in PX.prefix_search(
            spark, index, pfx, constants=constants
        ).collect()
    }
    got = {
        r["doc_id"]: r["score"]
        for r in PX.prefix_search_packed(
            spark, segments, index.term_stats, n, avgdl, pfx, k=10000
        ).collect()
    }
    assert set(got) == set(rel)
    for d in rel:
        assert np.isclose(got[d], rel[d], rtol=1e-12)


def test_relational_matches_python_reference(spark, index, constants):
    n_docs, avgdl = constants
    terms = PX.expand_prefix(index.term_stats, "по")
    assert terms
    rows = index.postings.filter(F.col("term").isin(terms)).collect()
    dfs = {
        r["term"]: r["df"]
        for r in index.term_stats.filter(
            F.col("term").isin(terms)
        ).collect()
    }
    doclen = {r["doc_id"]: r["doclen"] for r in index.doc_stats.collect()}
    want: dict[int, float] = {}
    for r in rows:
        want[r["doc_id"]] = want.get(r["doc_id"], 0.0) + bm25_score_py(
            r["tf"], dfs[r["term"]], doclen[r["doc_id"]], n_docs, avgdl
        )
    got = {
        r["doc_id"]: r["score"]
        for r in PX.prefix_search(
            spark, index, "по", constants=constants
        ).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert np.isclose(got[d], want[d], rtol=1e-12)


def test_expansion_cap_changes_results_deterministically(
    spark, index, constants, segments
):
    """With a cap of 1, only the highest-df expansion term scores —
    the deterministic (df DESC, term) rank makes the capped set
    reproducible."""
    n, avgdl = constants
    top_term = PX.expand_prefix(index.term_stats, "по", max_expansions=1)[0]
    got = {
        r["doc_id"]: r["score"]
        for r in PX.prefix_search_packed(
            spark, segments, index.term_stats, n, avgdl, "по",
            k=10000, max_expansions=1,
        ).collect()
    }
    single = {
        r["doc_id"]: r["score"]
        for r in PX.prefix_search_packed(
            spark, segments, index.term_stats, n, avgdl, top_term,
            k=10000, max_expansions=1,
        ).collect()
    }
    assert got == single


def test_service_complete_matches_expand_prefix(spark, tmp_path_factory):
    """complete() ≡ expand_prefix over the same dictionary; delta terms
    become completable immediately after index_page."""
    from searchengine_spark.index.segments import (
        build_segments, write_segments,
    )
    from searchengine_spark.operators.postings import (
        build_index, write_index,
    )
    from searchengine_spark.operators.prefix import expand_prefix
    from searchengine_spark.operators.search import corpus_constants
    from searchengine_spark.service import SearchService
    from searchengine_spark.sources.corpus import corpus_df

    base = str(tmp_path_factory.mktemp("complsvc") / "index")
    docs = corpus_df(spark, 100)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=4),
                   f"{base}/segments")
    svc = SearchService(spark, base)
    try:
        resp = svc.complete("по", topn=5)
        assert resp["result"] is True and resp["completions"]
        want = expand_prefix(idx.term_stats, "по", max_expansions=5)
        assert [c["term"] for c in resp["completions"]] == want
        # ranked df desc, term asc
        dfs = [c["df"] for c in resp["completions"]]
        assert dfs == sorted(dfs, reverse=True)
        # empty prefix / no-match prefix
        assert svc.complete("") == {"result": True, "completions": []}
        assert svc.complete("zzzzzz")["completions"] == []
        # delta term completable immediately
        assert svc.complete("новыйтермин")["completions"] == []
        svc.index_page("https://site0.example/compl",
                       text="новыйтерминавтодополнение текст")
        got = svc.complete("новыйтермин")["completions"]
        assert [c["term"] for c in got] == ["новыйтерминавтодополнение"]
    finally:
        svc.close()
