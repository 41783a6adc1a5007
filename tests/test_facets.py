"""Per-site facet counts ("N results from site X"): packed kernel ≡
relational spec ≡ brute force over the fixture corpus; deny-list
respected; deterministic (n desc, site asc) order."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import read_packed
from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.index.wand import facet_counts_packed
from searchengine_spark.operators import postings as P
from searchengine_spark.operators import search as S


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
    path = str(tmp_path_factory.mktemp("fseg") / "index_segments")
    write_segments(seg, path)
    df = read_packed(spark, path).cache()
    df.rows.count()
    return df


def _brute(spark, index, query, conjunctive, constants, excluded=()):
    """match set via the relational candidate frame + driver count."""
    cand = S._search_candidates(
        spark, index, query, conjunctive=conjunctive, constants=constants,
    ).collect()
    site_of = {r["doc_id"]: r["site"] for r in index.doc_stats.collect()}
    counts: dict = {}
    for r in cand:
        if r["doc_id"] in excluded:
            continue
        s = site_of[r["doc_id"]]
        counts[s] = counts.get(s, 0) + 1
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))


@pytest.mark.parametrize("query,conj", [
    ("индекс", True), ("запрос страница", True),
    ("запрос страница", False), ("поиск", False),
])
def test_facets_packed_equals_relational_equals_brute(
    spark, index, segments, constants, query, conj
):
    n, _ = constants
    got = facet_counts_packed(
        spark, segments, index.term_stats, index.doc_stats, n, query,
        conjunctive=conj, top=50, n_shards=4,
    ).collect()
    rel = S.search_facets(
        spark, index, query, top=50, conjunctive=conj, constants=constants,
    ).collect()
    want = _brute(spark, index, query, conj, constants)
    assert [(r["site"], r["n"]) for r in got] == want
    assert [(r["site"], r["n"]) for r in rel] == want
    assert sum(r["n"] for r in got) > 0


def test_facets_top_cuts_deterministically(spark, index, segments, constants):
    n, _ = constants
    full = facet_counts_packed(
        spark, segments, index.term_stats, index.doc_stats, n, "поиск",
        conjunctive=False, top=50, n_shards=4,
    ).collect()
    cut = facet_counts_packed(
        spark, segments, index.term_stats, index.doc_stats, n, "поиск",
        conjunctive=False, top=3, n_shards=4,
    ).collect()
    assert [(r["site"], r["n"]) for r in cut] == [
        (r["site"], r["n"]) for r in full[:3]
    ]


def test_facets_deny_list_and_empty(spark, index, segments, constants):
    n, _ = constants
    base = facet_counts_packed(
        spark, segments, index.term_stats, index.doc_stats, n, "индекс",
        top=50, n_shards=4,
    ).collect()
    # tombstone every doc of the top site → its count drops out exactly
    top_site = base[0]["site"]
    dead = [
        r["doc_id"]
        for r in index.doc_stats.filter(F.col("site") == top_site).collect()
    ]
    after = facet_counts_packed(
        spark, segments, index.term_stats, index.doc_stats, n, "индекс",
        top=50, n_shards=4, excluded_doc_ids=dead,
    ).collect()
    want = _brute(spark, index, "индекс", True, constants, excluded=set(dead))
    assert [(r["site"], r["n"]) for r in after] == want
    assert all(r["site"] != top_site for r in after)
    # empty / OOV queries → empty frame, no exception
    assert facet_counts_packed(
        spark, segments, index.term_stats, index.doc_stats, n, "",
        n_shards=4,
    ).count() == 0
    assert facet_counts_packed(
        spark, segments, index.term_stats, index.doc_stats, n, "нетслова",
        n_shards=4,
    ).count() == 0
