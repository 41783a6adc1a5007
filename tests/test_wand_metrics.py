"""Query-side pruning metrics (the trailer counters of index/wand.py
wand_shard, service.explain): agreement between the top-k and the
counting routes, decode-counter soundness, and actual pruning on a
skew-crafted shard.

The north rule requires per-partition token/posting/byte metrics for
the BUILD (index/manifest.py); these are the query-side analog —
blocks decoded vs skipped is the observable effect of block-max WAND
pruning (reference query semantics: ApiService.java:205-266)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from searchengine_spark.index.segments import BLOCK
from searchengine_spark.index.wand import wand_shard

from .kernels import pack_groups, wand_shard_topk

# ---------------------------------------------------------------------------
# kernel-level (no Spark session — fast)
# ---------------------------------------------------------------------------


def _mk_group(rng, term, n_postings, id_space, lo_tf=1, hi_tf=20):
    ids = rng.choice(id_space, size=n_postings, replace=False).astype(np.int64)
    return pd.DataFrame(
        {
            "term": term,
            "shard": 0,
            "doc_id": ids,
            "tf": rng.randint(lo_tf, hi_tf, n_postings).astype(np.int64),
            "doclen": 20 + ids * 7919 % 180,  # one length per doc
            "df": n_postings,
        }
    )


def _packed(groups, n_docs=5000, avgdl=100.0):
    """(packed rows, doc tables by run) of one shard's groups."""
    return pack_groups(groups, n_docs, avgdl)


@pytest.fixture(scope="module")
def shard():
    rng = np.random.RandomState(11)
    groups = [
        _mk_group(rng, "a", 900, 4000),
        _mk_group(rng, "b", 500, 4000),
        _mk_group(rng, "c", 120, 4000),
    ]
    return _packed(groups), groups


def _metrics_row(pdf, k, conjunctive, n_terms=3, **kw):
    """The trailer row of one shard kernel call (top-k route unless
    count=True is passed)."""
    out = wand_shard(
        *pdf, n_docs=5000, avgdl=100.0, k=k, conjunctive=conjunctive,
        n_terms=n_terms, **kw,
    )
    trailer = out[out["is_trailer"]]
    assert len(trailer) == 1
    assert (out["is_trailer"].to_numpy() == (out.index == len(out) - 1)).all()
    return trailer.iloc[0]


def test_counters_sound_conjunctive(shard):
    pdf, groups = shard
    m = _metrics_row(pdf, k=10, conjunctive=True)
    n_post = sum(len(g) for g in groups)
    n_blocks = sum(-(-len(g) // BLOCK) for g in groups)
    assert m["n_postings"] == n_post
    assert m["n_blocks"] == n_blocks
    assert 0 < m["n_blocks_decoded"] <= n_blocks
    assert m["theta"] == 0.0  # conjunctive path never prunes by θ
    assert m["n_matched"] == 0  # no count asked for
    # n_scored == the counting route's pre-top-k match count
    count = _metrics_row(pdf, k=10, conjunctive=True, count=True)
    assert m["n_scored"] == count["n_matched"]
    assert count["n_scored"] == count["n_matched"]
    # candidates = the driving (shortest) list
    assert m["n_candidates"] == min(len(g) for g in groups)


def test_counters_sound_disjunctive_no_prune(shard):
    pdf, groups = shard
    # k larger than the shortest list ⇒ θ seeds 0 ⇒ no block is
    # prunable ⇒ every block decodes and every posting's doc scores
    m = _metrics_row(pdf, k=5000, conjunctive=False)
    assert m["theta"] == 0.0
    assert m["n_blocks_decoded"] == m["n_blocks"]
    union = len({d for g in groups for d in g["doc_id"]})
    assert m["n_candidates"] == union
    assert m["n_scored"] == union
    # and equals the counting route's disjunctive match count
    count = _metrics_row(pdf, k=5000, conjunctive=False, count=True)
    assert m["n_scored"] == count["n_matched"]
    assert count["n_blocks_decoded"] == count["n_blocks"]


def test_pruning_actually_skips_blocks():
    """Skew-crafted shard: one long low-score list (big doclens, tf=1)
    + one short high-score list. With small k, θ seeds high enough
    that most of the long list's blocks are provably non-competitive
    and never decode."""
    rng = np.random.RandomState(3)
    long_low = _mk_group(rng, "long", 3000, 20000, lo_tf=1, hi_tf=2)
    long_low["doclen"] = 5000  # crushes BM25 length normalization
    short_hi = _mk_group(rng, "short", 40, 20000, lo_tf=15, hi_tf=20)
    short_hi["doclen"] = 25
    short_hi["doc_id"] += 20000  # its own docs: one length per doc
    pdf = _packed([long_low, short_hi], n_docs=50000, avgdl=100.0)

    m = _metrics_row(pdf, k=5, conjunctive=False, n_terms=2)
    assert m["theta"] > 0.0
    assert m["n_blocks_decoded"] < m["n_blocks"]
    # pruning must not change the answer: top-k == exhaustive top-k
    pruned = wand_shard_topk(
        *pdf, n_docs=50000, avgdl=100.0, k=5, conjunctive=False, n_terms=2
    )
    exhaust = wand_shard_topk(
        *pdf, n_docs=50000, avgdl=100.0, k=3000, conjunctive=False, n_terms=2
    ).head(5)
    assert list(pruned["doc_id"]) == list(exhaust["doc_id"])
    np.testing.assert_allclose(pruned["score"], exhaust["score"])
    # smaller k ⇒ tighter θ ⇒ never decodes MORE
    m20 = _metrics_row(pdf, k=20, conjunctive=False, n_terms=2)
    assert m["n_blocks_decoded"] <= m20["n_blocks_decoded"]
    # the counting route scores the whole union: pruning decodes less
    exhaustive = _metrics_row(pdf, k=5, conjunctive=False, n_terms=2,
                              count=True)
    assert exhaustive["theta"] == 0.0
    assert exhaustive["n_blocks_decoded"] == exhaustive["n_blocks"]
    assert m["n_blocks_decoded"] < exhaustive["n_blocks_decoded"]
    assert exhaustive["n_matched"] == len(
        set(long_low["doc_id"]) | set(short_hi["doc_id"])
    )


def test_missing_term_shard_zero_work(shard):
    pdf, _ = shard
    # conjunctive with a 4th term absent from the shard: no doc here
    # can match — the kernel must bail before decoding anything
    m = _metrics_row(pdf, k=10, conjunctive=True, n_terms=4)
    assert m["n_scored"] == 0
    assert m["n_candidates"] == 0
    assert m["n_blocks_decoded"] == 0


def test_site_filter_and_tombstones(shard):
    pdf, groups = shard
    inter = set(groups[0]["doc_id"]) & set(groups[1]["doc_id"]) & set(
        groups[2]["doc_id"]
    )
    allowed = np.sort(np.array(sorted(inter)[:2], dtype=np.int64))
    m = _metrics_row(pdf, k=10, conjunctive=True, allowed=allowed)
    assert m["n_scored"] <= 2
    if len(inter) >= 1:
        excluded = np.sort(np.array(sorted(inter), dtype=np.int64))
        m2 = _metrics_row(pdf, k=10, conjunctive=True, excluded=excluded)
        assert m2["n_scored"] == 0


# ---------------------------------------------------------------------------
# Spark-level: service.explain
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    from searchengine_spark.operators.postings import (
        build_index,
        prepare_docs,
        write_index,
    )
    from searchengine_spark.index.segments import (
        build_segments,
        write_segments,
    )
    from searchengine_spark.operators.search import corpus_constants
    from searchengine_spark.service import SearchService
    from searchengine_spark.sources.corpus import corpus_df

    base = str(tmp_path_factory.mktemp("explainsvc") / "index")
    docs = corpus_df(spark, 200)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    segs = build_segments(idx, n, avgdl, n_shards=4)
    write_segments(segs, f"{base}/segments")
    docs_text = prepare_docs(docs, use_html=True).select("doc_id", "text")
    svc = SearchService(spark, base, docs_text=docs_text)
    yield svc
    svc.close()


def test_explain_totals_consistent(served):
    svc = served
    resp = svc.explain("быстрый поиск", limit=10)
    assert resp["result"] is True
    assert resp["terms"] and all(t["df"] > 0 for t in resp["terms"])
    assert resp["shards"] > 0
    assert 0 < resp["n_blocks_decoded"] <= resp["n_blocks"]
    assert 0 < resp["blocks_decoded_pct"] <= 100.0
    # conjunctive scored total == the served pre-pagination count
    hits = svc.search("быстрый поиск", limit=10)
    assert resp["n_scored"] == hits["count"]


def test_explain_empty_and_pruned_queries(served):
    svc = served
    empty = svc.explain("и в на")  # stop-words only
    assert empty["terms"] == [] and empty["n_blocks"] == 0
    pruned = svc.explain("data")  # 98%-DF term — F4-pruned
    assert pruned["terms"] == [] and pruned["shards"] == 0


def test_range_max_table_equals_naive():
    """_sparse_max_table/_range_max ≡ the naive slice max on seeded
    random arrays — incl. single-element tables, a==b, full-range, and
    power-of-two-boundary window widths (frexp level math)."""
    from searchengine_spark.index.wand import _range_max, _sparse_max_table

    rng = np.random.default_rng(7)
    for n in (1, 2, 3, 127, 128, 129, 1000):
        vals = rng.standard_normal(n)
        tab = _sparse_max_table(vals)
        a = rng.integers(0, n, size=500)
        b = rng.integers(0, n, size=500)
        a, b = np.minimum(a, b), np.maximum(a, b)
        # force the edge shapes in every batch
        a[0], b[0] = 0, n - 1          # full range
        a[1], b[1] = n - 1, n - 1      # single element
        got = _range_max(tab, a, b)
        want = np.array(
            [vals[x : y + 1].max() for x, y in zip(a, b)]
        )
        assert np.array_equal(got, want)
