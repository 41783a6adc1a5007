"""A page landed by index_page stays served through the service's other
doors: a reopen of the index, prefix retrieval, and a rebuild of the
positional runs from docs_text (which never holds such a page's
current text)."""

from __future__ import annotations

import pytest

from searchengine_spark.index.positional import (
    build_positional_segments,
    write_positional_segments,
)
from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.operators.postings import (
    materialize_index,
    prepare_docs,
)
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.service import SearchService
from searchengine_spark.sources.corpus import corpus_df

# two words no corpus document carries, so only the delta page has them
WORD = "уникальноеслово"
NEXT = "редкаяфраза"
URL = "https://site1.example/delta-lifecycle"


def _open(spark, base: str) -> SearchService:
    return SearchService(spark, base,
                         docs_text=spark.read.parquet(f"{base}/docs_text"))


@pytest.fixture(scope="module")
def landed(spark, tmp_path_factory):
    """A production-layout index (materialized idx, 2 shards, positional
    runs, docs_text) and a service over it that has landed one page
    carrying WORD NEXT."""
    base = str(tmp_path_factory.mktemp("deltalife") / "index")
    docs = corpus_df(spark, 40)
    idx = materialize_index(spark, docs, f"{base}/idx", use_html=True)
    n_docs, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n_docs, avgdl, n_shards=2),
                   f"{base}/segments")
    prepared = prepare_docs(docs, use_html=True)
    write_positional_segments(
        build_positional_segments(prepared.select("doc_id", "lemmas"), 2),
        f"{base}/possegs",
    )
    prepared.select("doc_id", "text").write.parquet(f"{base}/docs_text")
    svc = _open(spark, base)
    doc_id = svc.index_page(
        URL, text=f"быстрый поиск {WORD} {NEXT} индекс")["doc_id"]
    yield base, svc, doc_id
    svc.close()


def test_delta_only_term_survives_reopen(spark, landed):
    base, svc, doc_id = landed
    assert svc.search(WORD)["count"] == 1
    again = _open(spark, base)
    try:
        resp = again.search(WORD)
        assert resp["count"] == 1
        assert [d["doc_id"] for d in resp["data"]] == [doc_id]
        g, live = again._gen, svc._gen
        assert g.df_map[WORD] == live.df_map[WORD] == 1
        # the executor bound counts the delta postings of every term,
        # known ones too: what the landing service grew, a reopen finds
        for t in (WORD, NEXT, "быстрый", "индекс"):
            assert (g.read_sizes.postings[t]
                    == live.read_sizes.postings[t]), t
    finally:
        again.close()


def test_prefix_expands_delta_learned_terms(landed):
    _, svc, doc_id = landed
    pfx = WORD[:8]
    assert [c["term"] for c in svc.complete(pfx)["completions"]] == [WORD]
    resp = svc.prefix(pfx)
    assert [d["doc_id"] for d in resp["data"]] == [doc_id]


def test_refresh_positional_keeps_index_page_pages(landed):
    _, svc, doc_id = landed
    phrase = f"{WORD} {NEXT}"
    before = svc.phrase(phrase)
    assert before["count"] == 1
    corpus = svc.phrase("быстрый поиск")
    svc.refresh_positional()
    after = svc.phrase(phrase)
    assert after["count"] == 1
    assert [d["doc_id"] for d in after["data"]] == [doc_id]
    # the docs_text rows are rebuilt as before
    assert svc.phrase("быстрый поиск") == corpus


def test_reopen_restores_delta_positions(spark, landed):
    """A reopen restores each delta term's positions (Σtf) in
    read_sizes, not only its postings: the positional input bound of a
    phrase read over delta terms matches the landing service's."""
    from searchengine_spark.operators.search import lemmatize_query

    base, svc, _ = landed
    twice = "повторноеслово"
    svc.index_page("https://site1.example/delta-twice",
                   text=f"{twice} поиск {twice}")
    (lemma,) = lemmatize_query(twice)
    live = svc._gen.read_sizes
    assert live.positions[lemma] == 2
    again = _open(spark, base)
    try:
        got = again._gen.read_sizes
        for t in (lemma, WORD, NEXT, "поиск", "быстрый"):
            assert got.positions.get(t) == live.positions[t], t
            assert got.postings.get(t) == live.postings[t], t
    finally:
        again.close()


def test_refresh_positional_keeps_relanded_text(landed):
    """A docs_text page that index_page RE-lands with new text keeps
    the new text through refresh_positional: docs_text still holds its
    old text, so its positional rows come from its delta run."""
    _, svc, _ = landed
    url = next(d["url"] for d in svc.search(
        "быстрый поиск", conjunctive=False, limit=10)["data"]
        if "delta" not in d["url"])
    fresh = "свежийтекст обновленнойстраницы"
    doc_id = svc.index_page(url, text=f"{fresh} поиск")["doc_id"]
    assert svc.phrase(fresh)["count"] == 1
    svc.refresh_positional()
    after = svc.phrase(fresh)
    assert after["count"] == 1
    assert [d["doc_id"] for d in after["data"]] == [doc_id]
