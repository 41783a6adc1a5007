"""Static-rank serving: build_static_rank doc-id alignment with the
index, and SearchService blended ranking (retrieve-then-rerank) vs an
exact driver-side reference of the blend spec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.operators.linkgraph import (
    PR_SCALE,
    build_static_rank,
    write_static_rank,
)
from searchengine_spark.operators.postings import (
    build_index,
    prepare_docs,
    write_index,
)
from searchengine_spark.operators.search import corpus_constants, search
from searchengine_spark.service import SearchService
from searchengine_spark.sources.corpus import corpus_df

N = 200
Q = "быстрый поиск"


@pytest.fixture(scope="module")
def served_blend(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("svcpr") / "index")
    docs = corpus_df(spark, N)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    segs = build_segments(idx, n, avgdl, n_shards=4)
    write_segments(segs, f"{base}/segments")
    rank = build_static_rank(docs, n_iter=3)
    write_static_rank(rank, base)
    docs_text = prepare_docs(docs, use_html=True).select("doc_id", "text")
    svc = SearchService(spark, base, docs_text=docs_text)
    yield svc, idx, (n, avgdl)
    svc.close()


def test_rank_table_aligns_with_index(spark, served_blend):
    svc, idx, _ = served_blend
    rank_ids = {r["doc_id"] for r in svc.static_rank[0].collect()}
    doc_ids = {r["doc_id"] for r in idx.doc_stats.collect()}
    # same canonicalization on both sides → same identity space
    assert rank_ids == doc_ids
    # the corpus actually links: somebody is above uniform mass
    uniform = PR_SCALE // svc.static_rank[1]
    assert svc.static_rank[0].filter(F.col("rank") > uniform).count() > 0


def test_blend_matches_exact_reference(spark, served_blend):
    svc, idx, constants = served_blend
    count = svc.search(Q)["count"]
    assert count > 10
    # oversample so K' >= count: the candidate set IS the full match
    # set and the two-stage rerank degenerates to the exact blend
    resp = svc.search(Q, limit=count, oversample=2, blend=1.0)

    exact_bm = [
        (r["doc_id"], r["score"])
        for r in search(spark, idx, Q, k=count, constants=constants).collect()
    ]
    ranks = {r["doc_id"]: r["rank"] for r in svc.static_rank[0].collect()}
    unit = PR_SCALE / svc.static_rank[1]
    want = sorted(
        (
            (d, s + ranks.get(d, 0) / unit, s, ranks.get(d, 0) / unit)
            for d, s in exact_bm
        ),
        key=lambda t: (-t[1], t[0]),
    )
    got = [
        (d["doc_id"], d["relevance"], d["bm25"], d["authority"])
        for d in resp["data"]
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1])
        assert g[2] == pytest.approx(w[2])
        assert g[3] == pytest.approx(w[3])
    # blend actually reordered something vs pure BM25 at this corpus
    assert [g[0] for g in got] != [d for d, _ in exact_bm]


def test_blend_zero_weight_keeps_bm25_order(spark, served_blend):
    svc, _, _ = served_blend
    plain = svc.search(Q, limit=10)
    w0 = svc.search(Q, limit=10, blend=0.0)
    assert [d["doc_id"] for d in w0["data"]] == [
        d["doc_id"] for d in plain["data"]
    ]
    assert w0["count"] == plain["count"]
    assert all(d["authority"] >= 0.0 for d in w0["data"])


def test_blend_offset_slices_reranked_order(spark, served_blend):
    svc, _, _ = served_blend
    # oversample·(offset+limit) identical between the two calls so
    # both rerank the same candidate set
    full = svc.search(Q, limit=10, blend=1.0, oversample=4)
    page = svc.search(Q, offset=5, limit=5, blend=1.0, oversample=4)
    assert [d["doc_id"] for d in page["data"]] == [
        d["doc_id"] for d in full["data"][5:10]
    ]
    assert page["count"] == full["count"]


def test_delta_landed_page_has_zero_authority(spark, served_blend):
    svc, _, _ = served_blend
    url = "https://site0.example/fresh-pr"
    svc.index_page(
        url,
        "<html><head><title>t</title></head>"
        "<body><p>быстрый быстрый быстрый поиск</p></body></html>",
    )
    resp = svc.search(Q, limit=N, oversample=2, blend=1.0)
    mine = [d for d in resp["data"] if d["url"] == url]
    assert mine and mine[0]["authority"] == 0.0
    assert mine[0]["relevance"] == pytest.approx(mine[0]["bm25"])


def test_reload_static_rank_serves_new_table(spark, served_blend):
    svc, _, _ = served_blend
    before = svc.search(Q, limit=5, blend=1.0)
    rows = [(r["doc_id"], r["rank"]) for r in svc.static_rank[0].collect()]
    try:
        doubled = spark.createDataFrame(
            [(d, r * 2) for d, r in rows], "doc_id long, rank long"
        )
        write_static_rank(doubled, svc.base)
        svc.reload_static_rank()
        after = svc.search(Q, limit=5, blend=1.0)
        got = {d["doc_id"]: d["authority"] for d in after["data"]}
        want = {d["doc_id"]: d["authority"] * 2 for d in before["data"]}
        for doc_id, a in want.items():
            if doc_id in got:  # rerank can reshuffle the top-5 set
                assert got[doc_id] == pytest.approx(a)
        assert any(doc_id in got for doc_id in want)
    finally:
        write_static_rank(
            spark.createDataFrame(rows, "doc_id long, rank long"), svc.base
        )
        svc.reload_static_rank()


def test_blend_without_table_raises(spark, tmp_path):
    base = str(tmp_path / "nopr")
    docs = corpus_df(spark, 30)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=2),
                   f"{base}/segments")
    svc = SearchService(spark, base)
    try:
        with pytest.raises(ValueError, match="staticrank"):
            svc.search("быстрый", blend=1.0)
    finally:
        svc.close()
