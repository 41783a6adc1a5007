"""Spark-level M2/M3: build packed segments from the corpus, verify
segment integrity against relational postings, and packed-search ≡
relational-search ≡ oracle rank identity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import (
    build_segments,
    merge_runs,
    read_packed,
    unpack_segment,
    write_segments,
)
from searchengine_spark.index.wand import search_packed
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
    path = str(tmp_path_factory.mktemp("seg") / "index_segments")
    write_segments(seg, path)
    tree = read_packed(spark, path).cache()
    tree.rows.count()
    return tree


def test_segments_cover_all_postings(spark, index, segments):
    total = segments.rows.agg(F.sum("n_docs")).collect()[0][0]
    assert total == index.postings.count()
    # per-term totals match df
    per_term = {
        r["term"]: r["s"]
        for r in segments.rows.groupBy("term").agg(
            F.sum("n_docs").alias("s")).collect()
    }
    for r in index.term_stats.collect():
        assert per_term[r["term"]] == r["df"]


def test_segment_unpack_matches_postings(spark, index, segments):
    rows = segments.rows.filter(F.col("term") == "индекс").collect()
    tables = segments.tables()
    want = {
        r["doc_id"]: r["tf"]
        for r in index.postings.filter(F.col("term") == "индекс").collect()
    }
    got = {}
    for row in rows:
        ids, tfs, dls = unpack_segment(
            row.asDict(), tables[row["shard"]][row["run_id"]])[:3]
        assert np.all(np.diff(ids) > 0)  # sorted, unique within segment
        for d, t in zip(ids, tfs):
            got[int(d)] = int(t)
    assert got == want


from .queries import QUERIES  # noqa: E402


@pytest.mark.parametrize(
    "qid,query,site,offset,limit,mode,conj", QUERIES,
    ids=[str(q[0]) for q in QUERIES],
)
def test_packed_equals_relational(
    spark, index, segments, constants, qid, query, site, offset, limit,
    mode, conj,
):
    """Packed/WAND path serves the FULL reference query set (incl. site
    filter, offset pagination, legacy scoring) rank-identically to the
    relational path — both order by (score desc, doc_id asc)."""
    n, avgdl = constants
    got = search_packed(
        spark, segments, index.term_stats, n, avgdl, query,
        k=limit, conjunctive=conj, mode=mode, site=site, offset=offset,
        doc_stats=index.doc_stats, n_shards=4,
    ).collect()
    want = S.search(
        spark, index, query, k=limit, offset=offset, site=site, mode=mode,
        conjunctive=conj, constants=constants,
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], (
        f"query {qid} rank mismatch"
    )
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9), (
            f"query {qid} score mismatch at doc {g['doc_id']}"
        )


def test_packed_site_filter_inferred_shards(spark, index, segments, constants):
    """Site filter works without an explicit n_shards (inferred from
    the segment frame) and returns only that site's docs."""
    n, avgdl = constants
    got = search_packed(
        spark, segments, index.term_stats, n, avgdl, "запрос страница",
        k=20, site="site3.example", doc_stats=index.doc_stats,
    ).collect()
    assert got, "site-filtered query should match on the fixture corpus"
    member_ids = {
        r["doc_id"]
        for r in index.doc_stats.filter(
            F.col("site") == "site3.example"
        ).collect()
    }
    assert {r["doc_id"] for r in got} <= member_ids


def test_packed_offset_slices_the_same_ranking(spark, index, segments, constants):
    """offset=o, k=k returns rows [o, o+k) of the offset-0 ranking."""
    n, avgdl = constants
    full = search_packed(
        spark, segments, index.term_stats, n, avgdl, "индекс", k=10
    ).collect()
    page = search_packed(
        spark, segments, index.term_stats, n, avgdl, "индекс", k=5, offset=5
    ).collect()
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in full[5:10]]
    # offset past the result set → empty frame, no exception
    assert (
        search_packed(
            spark, segments, index.term_stats, n, avgdl, "индекс",
            k=5, offset=9000,
        ).count()
        == 0
    )


def test_merge_runs_spark(spark, index, segments, constants):
    n, avgdl = constants
    merged = merge_runs(segments, n, avgdl, run_id=1)
    assert merged.rows.agg(F.sum("n_docs")).collect()[0][0] == (
        index.postings.count())
    assert merged.rows.select("run_id").distinct().collect()[0][0] == 1


def test_packed_full_response_and_match_count(
    spark, index, segments, constants, tmp_path_factory
):
    """The complete reference response (top-k + url + snippet), served
    by the warm service over the packed index, and the pre-pagination
    match count, both equal to the relational path."""
    from searchengine_spark.index.wand import match_count_packed
    from searchengine_spark.operators.postings import prepare_docs
    from searchengine_spark.operators.search import (
        match_count,
        search_with_snippets,
    )
    from searchengine_spark.service import SearchService
    from searchengine_spark.sources.corpus import corpus_df

    n, avgdl = constants
    docs_text = prepare_docs(corpus_df(spark, 300), use_html=True).select(
        "doc_id", "text"
    )
    q = "быстрый поиск"
    base = str(tmp_path_factory.mktemp("snipsvc") / "index")
    P.write_index(index, f"{base}/idx")
    write_segments(
        build_segments(index, n, avgdl, n_shards=4), f"{base}/segments"
    )
    svc = SearchService(spark, base, docs_text=docs_text)
    try:
        got = svc.search(q, limit=10, snippets=True)["data"]
    finally:
        svc.close()
    want = search_with_snippets(
        spark, index, docs_text, q, k=10, constants=constants
    ).collect()
    assert [(r["doc_id"], r["url"], r["snippet"]) for r in got] == [
        (r["doc_id"], r["url"], r["snippet"]) for r in want
    ]
    for g, w in zip(got, want):
        assert g["relevance"] == pytest.approx(w["score"], rel=1e-9)

    # match counts: packed ≡ relational, with and without site filter
    assert match_count_packed(
        spark, segments, index.term_stats, n, q
    ) == match_count(spark, index, q, constants=constants)
    assert match_count_packed(
        spark, segments, index.term_stats, n, "запрос страница",
        site="site3.example", doc_stats=index.doc_stats, n_shards=4,
    ) == match_count(
        spark, index, "запрос страница", site="site3.example",
        constants=constants,
    )
    assert match_count_packed(
        spark, segments, index.term_stats, n, "nosuchwordxyz"
    ) == 0


@pytest.mark.parametrize(
    "qid,query,site,offset,limit,mode,conj", QUERIES,
    ids=[str(q[0]) for q in QUERIES],
)
def test_fused_count_topk_equals_two_kernel(
    spark, index, segments, constants, qid, query, site, offset, limit,
    mode, conj,
):
    """The one-pass count+topk kernel (search_packed_fused — the warm
    server's hot path) is result-identical to the top-k route
    (search_packed) and to the k=0 count (match_count_packed) on the
    FULL reference query set; conjunctive counts also equal the
    relational match_count."""
    from searchengine_spark.index.wand import (
        match_count_packed,
        search_packed_fused,
    )

    n, avgdl = constants
    hits, count = search_packed_fused(
        spark, segments, index.term_stats, n, avgdl, query, k=limit,
        conjunctive=conj, mode=mode, site=site, offset=offset,
        doc_stats=index.doc_stats, n_shards=4,
    )
    want = search_packed(
        spark, segments, index.term_stats, n, avgdl, query, k=limit,
        conjunctive=conj, mode=mode, site=site, offset=offset,
        doc_stats=index.doc_stats, n_shards=4,
    ).collect()
    assert [(d, s) for d, s in hits] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert count == match_count_packed(
        spark, segments, index.term_stats, n, query, conjunctive=conj,
        site=site, doc_stats=index.doc_stats, n_shards=4,
    )
    if conj and mode == "bm25":
        assert count == S.match_count(
            spark, index, query, site=site, constants=constants
        )
