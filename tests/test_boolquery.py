"""Boolean AND/OR/NOT retrieval: parser, relational evaluator vs an
independent pure-Python reference, and packed-kernel rank identity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import read_packed
from searchengine_spark.operators import boolquery as B
from searchengine_spark.operators import postings as P
from searchengine_spark.operators import search as S
from searchengine_spark.operators.search import bm25_score_py


# --- parser (no spark) -------------------------------------------------------


def test_parser_precedence_and_shapes():
    assert B.parse_bool_query("a") == ("term", "a")
    # NOT > AND > OR; adjacency is implicit AND
    assert B.parse_bool_query("a b OR c") == (
        "or", [("and", [("term", "a"), ("term", "b")]), ("term", "c")]
    )
    assert B.parse_bool_query("a AND NOT b") == (
        "and", [("term", "a"), ("not", ("term", "b"))]
    )
    # parens override; nested same-op nodes flatten
    assert B.parse_bool_query("a AND (b OR c)") == (
        "and", [("term", "a"), ("or", [("term", "b"), ("term", "c")])]
    )
    assert B.parse_bool_query("a AND (b AND c)") == (
        "and", [("term", "a"), ("term", "b"), ("term", "c")]
    )
    # negation-only groups splice into the parent AND
    assert B.parse_bool_query("a (NOT b NOT c)") == (
        "and",
        [("term", "a"), ("not", ("term", "b")), ("not", ("term", "c"))],
    )
    # double negation collapses
    assert B.parse_bool_query("NOT NOT a") == ("term", "a")


@pytest.mark.parametrize(
    "bad",
    [
        "",
        "NOT a",
        "a OR NOT b",
        "NOT (NOT a NOT b)",  # De-Morgan-only form: rejected, not rewritten
        "a AND",
        "(a",
        "a )",
        "AND a",
        "a OR",
    ],
)
def test_parser_rejects(bad):
    with pytest.raises(ValueError):
        B.parse_bool_query(bad)


def test_positive_terms_exclude_negated():
    ast = B.parse_bool_query("(a OR b) AND c AND NOT d AND NOT (a e)")
    assert B.leaf_terms(ast) == ["a", "b", "c", "d", "e"]
    # 'a' is positive via the OR even though it also appears negated
    assert B.positive_terms(ast) == ["a", "b", "c"]


# --- spark fixtures ----------------------------------------------------------


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
    path = str(tmp_path_factory.mktemp("boolseg") / "index_segments")
    write_segments(seg, path)
    df = read_packed(spark, path).cache()
    df.rows.count()
    return df


BOOL_QUERIES = [
    "(индекс OR spark) AND поиск AND NOT данные",
    "быстрый поиск NOT страница",
    "spark OR индексы OR стекла",  # inflected + homograph leaves
    "(быстрый OR слово) AND (поиск OR spark) AND NOT (запрос страница)",
    "поиск AND NOT nosuchwordxyz",  # absent negated term: no-op
    "nosuchwordxyz OR индекс",  # absent OR branch contributes nothing
    "поиск OR данные OR spark",  # pure disjunction -> WAND fast path
    "индекс",  # single term -> block-max single-list fast path
]


def _py_reference(index, constants, ast):
    """Independent evaluation: collected postings -> python sets +
    bm25_score_py. Mirrors the documented semantics, shares no code
    with the DataFrame/kernel paths."""
    n_docs, avgdl = constants
    leaves = B.leaf_terms(ast)
    rows = index.postings.filter(F.col("term").isin(leaves)).collect()
    dfs = {
        r["term"]: r["df"]
        for r in index.term_stats.filter(F.col("term").isin(leaves)).collect()
    }
    doclen = {r["doc_id"]: r["doclen"] for r in index.doc_stats.collect()}
    tf = {}
    docs_of = {t: set() for t in leaves}
    for r in rows:
        tf[(r["doc_id"], r["term"])] = r["tf"]
        docs_of[r["term"]].add(r["doc_id"])

    def ev(node):
        k = node[0]
        if k == "term":
            return set(docs_of.get(node[1], set()))
        if k == "or":
            out = set()
            for c in node[1]:
                out |= ev(c)
            return out
        acc = None
        for c in node[1]:
            if c[0] != "not":
                s = ev(c)
                acc = s if acc is None else acc & s
        for c in node[1]:
            if c[0] == "not":
                acc -= ev(c[1])
        return acc

    scoring = B.positive_terms(ast)
    out = {}
    for d in ev(ast):
        out[d] = sum(
            bm25_score_py(tf[(d, t)], dfs[t], doclen[d], n_docs, avgdl)
            for t in scoring
            if (d, t) in tf
        )
    return out


@pytest.mark.parametrize("q", BOOL_QUERIES)
def test_relational_matches_python_reference(spark, index, constants, q):
    ast = B.normalize(B.lemmatize_ast(B.parse_bool_query(q)))
    want = _py_reference(index, constants, ast)
    got = {
        r["doc_id"]: r["score"]
        for r in B.bool_search(spark, index, q, constants=constants).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert np.isclose(got[d], want[d], rtol=1e-12), (d, got[d], want[d])


@pytest.mark.parametrize("q", BOOL_QUERIES)
def test_packed_equals_relational(spark, index, constants, segments, q):
    n, avgdl = constants
    rel = {
        r["doc_id"]: r["score"]
        for r in B.bool_search(spark, index, q, constants=constants).collect()
    }
    # k > corpus so the packed path returns every match
    got = {
        r["doc_id"]: r["score"]
        for r in B.bool_search_packed(
            spark, segments, n, avgdl, q, k=1000
        ).collect()
    }
    assert set(got) == set(rel)
    for d in rel:
        assert np.isclose(got[d], rel[d], rtol=1e-12)


def test_packed_topk_rank_identity(spark, index, constants, segments):
    q = BOOL_QUERIES[0]
    n, avgdl = constants
    rel = B.bool_search(spark, index, q, constants=constants).collect()
    want = sorted(
        ((r["doc_id"], r["score"]) for r in rel),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [
        (r["doc_id"], r["score"])
        for r in B.bool_search_packed(
            spark, segments, n, avgdl, q, k=5
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want]
    assert np.allclose([s for _, s in got], [s for _, s in want])


def test_packed_excluded_docs(spark, index, constants, segments):
    q = "поиск OR индекс"
    n, avgdl = constants
    full = B.bool_search_packed(spark, segments, n, avgdl, q, k=1000).collect()
    assert full
    deny = sorted(r["doc_id"] for r in full)[:3]
    got = {
        r["doc_id"]
        for r in B.bool_search_packed(
            spark, segments, n, avgdl, q, k=1000, excluded_doc_ids=deny
        ).collect()
    }
    assert got == {r["doc_id"] for r in full} - set(deny)


def test_seeded_random_asts_packed_vs_relational(
    spark, index, constants, segments
):
    """Random grounded ASTs over the corpus vocabulary: packed kernel
    == relational evaluator on match set and scores."""
    rng = np.random.RandomState(7)
    vocab = ["поиск", "индекс", "слово", "быстрый", "данные",
             "spark", "join", "запрос", "страница"]

    def gen(depth):
        r = rng.rand()
        if depth >= 2 or r < 0.4:
            return ("term", vocab[rng.randint(len(vocab))])
        kids = [gen(depth + 1) for _ in range(int(rng.randint(2, 4)))]
        if r < 0.7:
            return ("and", kids + (
                [("not", gen(depth + 1))] if rng.rand() < 0.5 else []
            ))
        return ("or", kids)

    n, avgdl = constants
    tried = 0
    for _ in range(20):
        if tried >= 4:
            break
        ast = B.normalize(gen(0))
        if not (B.grounded(ast) and B._servable(ast)):
            continue
        tried += 1
        ast = B.normalize(B.lemmatize_ast(ast))
        rel = {
            r["doc_id"]: r["score"]
            for r in B.bool_search(
                spark, index, ast, constants=constants, lemmatize=False
            ).collect()
        }
        got = {
            r["doc_id"]: r["score"]
            for r in B.bool_search_packed(
                spark, segments, n, avgdl, ast, k=10000, lemmatize=False
            ).collect()
        }
        assert set(got) == set(rel), ast
        for d in rel:
            assert np.isclose(got[d], rel[d], rtol=1e-12), ast
    assert tried == 4


def test_packed_stop_only_query_is_empty(spark, index, constants, segments):
    """Every leaf lemmatizes to None (stop-POS): matches nothing, no
    exception, stable schema."""
    n, avgdl = constants
    out = B.bool_search_packed(spark, segments, n, avgdl, "и AND в")
    assert out.columns == ["doc_id", "score"]
    assert out.count() == 0


def test_packed_site_filter_and_offset(spark, index, constants, segments):
    """site restricts candidates (stats stay global); offset slices the
    globally ranked list — both identical to the relational spec."""
    q = "(индекс OR spark) AND поиск"
    n, avgdl = constants
    rel = {
        r["doc_id"]: r["score"]
        for r in B.bool_search(spark, index, q, constants=constants).collect()
    }
    ranked = sorted(rel.items(), key=lambda x: (-x[1], x[0]))
    # pick a site that actually has matches
    site_of = {
        r["doc_id"]: r["site"] for r in index.doc_stats.collect()
    }
    site = next(site_of[d] for d, _ in ranked)
    members = {d for d, s in site_of.items() if s == site}
    want_site = sorted(
        ((d, sc) for d, sc in rel.items() if d in members),
        key=lambda x: (-x[1], x[0]),
    )
    got_site = [
        (r["doc_id"], r["score"])
        for r in B.bool_search_packed(
            spark, segments, n, avgdl, q, k=1000,
            site=site, doc_stats=index.doc_stats,
        ).collect()
    ]
    assert got_site == [(d, pytest.approx(sc)) for d, sc in want_site]

    got_off = [
        (r["doc_id"], r["score"])
        for r in B.bool_search_packed(
            spark, segments, n, avgdl, q, k=3, offset=2
        ).collect()
    ]
    assert [d for d, _ in got_off] == [d for d, _ in ranked[2:5]]
    assert np.allclose([s for _, s in got_off], [s for _, s in ranked[2:5]])


def test_fused_count_and_page(spark, index, constants, segments):
    """bool_search_packed_fused: the page equals bool_search_packed and
    the count equals the relational match total — incl. site filter,
    offset, tombstones, and the pure-OR fast path."""
    n, avgdl = constants
    site_of = {r["doc_id"]: r["site"] for r in index.doc_stats.collect()}
    for q in [BOOL_QUERIES[0], "поиск OR данные OR spark", "индекс"]:
        rel = {
            r["doc_id"]: r["score"]
            for r in B.bool_search(
                spark, index, q, constants=constants
            ).collect()
        }
        ranked = sorted(rel.items(), key=lambda x: (-x[1], x[0]))
        hits, count = B.bool_search_packed_fused(
            spark, segments, n, avgdl, q, k=5, offset=2
        )
        assert count == len(rel), q
        assert [d for d, _ in hits] == [d for d, _ in ranked[2:7]], q
        # site-filtered count
        if ranked:
            site = site_of[ranked[0][0]]
            members = {d for d, s in site_of.items() if s == site}
            hits_s, count_s = B.bool_search_packed_fused(
                spark, segments, n, avgdl, q, k=5,
                site=site, doc_stats=index.doc_stats,
            )
            assert count_s == len(set(rel) & members), q
        # tombstoned docs vanish from the count too
        deny = [d for d, _ in ranked[:2]]
        _, count_t = B.bool_search_packed_fused(
            spark, segments, n, avgdl, q, k=5, excluded_doc_ids=deny
        )
        assert count_t == len(rel) - len(deny), q
