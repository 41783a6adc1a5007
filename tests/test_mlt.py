"""More-like-this (operators/mlt.py + SearchService.more_like_this):
term selection ≡ the tf·idf rule, retrieval ≡ an independent
brute-force BM25 reference over the corpus, source doc excluded.
(The cross-engine selection+scoring parity vs DuckDB is the contract
entry q_more_like_this, exercised by test_entry_contract.)"""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from searchengine_spark.functions import textproc
from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.operators.mlt import select_mlt_terms
from searchengine_spark.operators.postings import (
    build_index,
    prepare_docs,
    write_index,
)
from searchengine_spark.operators.search import bm25_score_py, corpus_constants
from searchengine_spark.service import SearchService
from searchengine_spark.sources.corpus import corpus_df

N = 150


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("mlt") / "index")
    docs = corpus_df(spark, N)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    segs = build_segments(idx, n, avgdl, n_shards=4)
    write_segments(segs, f"{base}/segments")
    docs_text = prepare_docs(docs, use_html=True).select("doc_id", "text")
    svc = SearchService(spark, base, docs_text=docs_text,
                        cache_responses=False)
    yield svc, idx, (n, avgdl), docs_text
    svc.close()


def _brute_mlt(idx, n, avgdl, src_text, src_doc_id, max_terms, k,
               max_rel_freq=0.95):
    """Independent reference: pure-Python term selection + exhaustive
    BM25 over the collected postings (never touches the packed
    kernels)."""
    counts = Counter(textproc.tokenize_lemmatize(src_text))
    dfm = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    sel = select_mlt_terms(dict(counts), dfm, n, max_terms)
    # F4 pruning, same rule as _resolve_terms
    sel = [t for t in sel if dfm[t] / float(n) <= max_rel_freq]
    dls = {r["doc_id"]: r["doclen"] for r in idx.doc_stats.collect()}
    scores: dict[int, float] = {}
    for r in idx.postings.filter(F.col("term").isin(sel)).collect():
        d = r["doc_id"]
        if d == src_doc_id:
            continue
        scores[d] = scores.get(d, 0.0) + bm25_score_py(
            r["tf"], dfm[r["term"]], dls[d], n, avgdl
        )
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return sel, ranked[:k], len(scores)


def test_mlt_matches_bruteforce_reference(spark, served):
    svc, idx, (n, avgdl), docs_text = served
    src = svc._gen.serve_meta.orderBy("doc_id").limit(1).collect()[0]
    text = docs_text.filter(
        F.col("doc_id") == src["doc_id"]
    ).collect()[0]["text"]
    resp = svc.more_like_this(src["url"], limit=10, max_terms=8)
    assert resp["result"] is True
    sel, want, total = _brute_mlt(
        idx, n, avgdl, text, src["doc_id"], max_terms=8, k=10
    )
    assert resp["terms"] == sel
    assert resp["count"] == total
    assert [d["doc_id"] for d in resp["data"]] == [d for d, _ in want]
    for item, (_, s) in zip(resp["data"], want):
        assert item["relevance"] == pytest.approx(s, rel=1e-12)
    # the source page itself never appears in its own neighbors
    assert all(d["doc_id"] != src["doc_id"] for d in resp["data"])
    assert all(d["url"] != src["url"] for d in resp["data"])


def test_mlt_term_selection_rule(served):
    svc, idx, (n, _), docs_text = served
    row = docs_text.limit(1).collect()[0]
    counts = Counter(textproc.tokenize_lemmatize(row["text"]))
    sel = select_mlt_terms(dict(counts), svc._gen.df_map, n, max_terms=5)
    assert 0 < len(sel) <= 5
    # executable spec: exactly the first 5 of the (-weight_e4, term)
    # total order over the doc's dictionary terms (the DuckDB oracle
    # in contract.q_more_like_this pins the same rule cross-engine)
    def w(t):
        return math.floor(
            (counts[t] * math.log(n / svc._gen.df_map[t])) * 10000.0 + 0.5
        )
    scored = sorted((-w(t), t) for t in counts if t in svc._gen.df_map)
    assert sel == [t for _, t in scored[:5]]


def test_mlt_unknown_url_and_missing_text(spark, served):
    svc, *_ = served
    out = svc.more_like_this("https://nowhere.example/nope")
    assert out["result"] is False

    # docs_text is required at open for MLT
    svc_no_text = SearchService(spark, svc.base, docs_text=None,
                                cache_responses=False)
    with pytest.raises(ValueError, match="docs_text"):
        svc_no_text.more_like_this("https://site0.example/page0")
    svc_no_text.close()
