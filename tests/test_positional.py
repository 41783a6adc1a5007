"""Positional packed index: phrase-from-index must equal the
corpus-scan phrase operator (operators/phrase.py) on the same lemma
stream, including across shard boundaries and with block-level lazy
position decode."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import read_packed
from searchengine_spark.index.positional import (
    build_positional_segments,
    phrase_search_packed,
    phrase_search_packed_terms,
    write_positional_segments,
)
from searchengine_spark.operators.phrase import phrase_match
from searchengine_spark.operators.postings import prepare_docs
from searchengine_spark.sources.corpus import corpus_df

N_SHARDS = 4


@pytest.fixture(scope="module")
def prepared(spark):
    df = prepare_docs(corpus_df(spark, 300), use_html=True).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pos_segments(spark, prepared, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("possegs"))
    write_positional_segments(
        build_positional_segments(prepared, N_SHARDS), tmp
    )
    return read_packed(spark, tmp)


def _lemma_text(prepared):
    return prepared.select(
        "doc_id", F.concat_ws(" ", "lemmas").alias("text")
    )


def _pick_phrase(prepared, length):
    """A lemma n-gram that actually occurs: from the longest doc."""
    row = prepared.orderBy(F.size("lemmas").desc(), "doc_id").first()
    return [str(t) for t in row["lemmas"][:length]]


def _as_dict(df):
    return {r["doc_id"]: r["phrase_tf"] for r in df.collect()}


@pytest.mark.parametrize("length", [1, 2, 3])
def test_packed_equals_scan(spark, prepared, pos_segments, length):
    phrase = _pick_phrase(prepared, length)
    packed = _as_dict(
        phrase_search_packed_terms(spark, pos_segments, phrase)
    )
    scan = _as_dict(phrase_match(_lemma_text(prepared), phrase))
    assert packed, f"phrase {phrase} should match at least its own doc"
    assert packed == scan


def test_packed_absent_and_empty(spark, pos_segments):
    assert (
        phrase_search_packed_terms(
            spark, pos_segments, ["zzz_not_a_term", "xxx"]
        ).count()
        == 0
    )
    assert phrase_search_packed_terms(spark, pos_segments, []).count() == 0


def test_packed_query_string_analyzer(spark, prepared, pos_segments):
    """The string entrypoint analyzes with the corpus analyzer; a
    single-word query's phrase_tf equals the term's TF."""
    phrase = _pick_phrase(prepared, 1)
    via_terms = _as_dict(
        phrase_search_packed_terms(spark, pos_segments, phrase)
    )
    via_string = _as_dict(
        phrase_search_packed(spark, pos_segments, phrase[0])
    )
    assert via_string == via_terms


def test_block_skip_decode(spark, prepared):
    """Tiny blocks force multi-block runs; results must not change
    (locks the block-offset arithmetic of the lazy position decode)."""
    segs = build_positional_segments(prepared, n_shards=2, block=4)
    phrase = _pick_phrase(prepared, 2)
    small = _as_dict(
        phrase_search_packed_terms(spark, segs, phrase, block=4)
    )
    scan = _as_dict(phrase_match(_lemma_text(prepared), phrase))
    assert small == scan


def test_positions_roundtrip_exact(spark):
    """Hand-built docs: exact positions, repeated words, overlap."""
    docs = spark.createDataFrame(
        [
            (1, ["a", "b", "a", "b", "a"]),
            (2, ["b", "a"]),
            (3, ["a", "a", "a"]),
        ],
        "doc_id long, lemmas array<string>",
    )
    segs = build_positional_segments(docs, n_shards=2, block=2)
    out = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_search_packed_terms(
            spark, segs, ["a", "b"], block=2
        ).collect()
    }
    assert out == {1: 2}
    out2 = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_search_packed_terms(
            spark, segs, ["a", "a"], block=2
        ).collect()
    }
    assert out2 == {3: 2}


def test_proximity_packed_equals_scan(spark, prepared, pos_segments):
    from searchengine_spark.index.positional import (
        proximity_search_packed_terms,
    )
    from searchengine_spark.operators.phrase import proximity_match

    a, b = _pick_phrase(prepared, 2)
    packed = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_search_packed_terms(
            spark, pos_segments, a, b, max_dist=6
        ).collect()
    }
    scan = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_match(
            _lemma_text(prepared), a, b, max_dist=6
        ).collect()
    }
    assert packed, f"({a},{b}) should co-occur somewhere"
    assert packed == scan


def test_proximity_packed_exact(spark):
    from searchengine_spark.index.positional import (
        proximity_search_packed_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, ["a", "x", "x", "b"]),          # dist 3
            (2, ["b", "x", "x", "x", "x", "a"]),  # dist 5
            (3, ["a", "only"]),
        ],
        "doc_id long, lemmas array<string>",
    )
    segs = build_positional_segments(docs, n_shards=2, block=2)
    out = {
        r["doc_id"]: r["min_dist"]
        for r in proximity_search_packed_terms(
            spark, segs, "a", "b", max_dist=3, block=2
        ).collect()
    }
    assert out == {1: 3}


def test_randomized_vs_python_reference(spark):
    """200 random docs over a 5-token alphabet, 12 random phrases and
    4 proximity pairs, all checked against a direct Python reference —
    one build, broad coverage of codec + kernel edge cases (empty
    docs, tf-heavy runs, multi-block, position 0 shifts)."""
    import random

    from searchengine_spark.index.positional import (
        proximity_search_packed_terms,
    )

    rng = random.Random(0)
    alpha = ["a", "b", "c", "d", "e"]
    rows = [
        (i, [rng.choice(alpha) for _ in range(rng.randrange(0, 30))])
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lemmas array<string>")
    segs = build_positional_segments(docs, n_shards=3, block=8)

    def py_phrase(phrase):
        out = {}
        m = len(phrase)
        for i, ls in rows:
            tf = sum(
                1
                for s in range(len(ls) - m + 1)
                if ls[s : s + m] == phrase
            )
            if tf:
                out[i] = tf
        return out

    def py_prox(a, b, w):
        out = {}
        for i, ls in rows:
            pa = [k for k, t in enumerate(ls) if t == a]
            pb = [k for k, t in enumerate(ls) if t == b]
            if pa and pb:
                md = min(abs(x - y) for x in pa for y in pb)
                if md <= w:
                    out[i] = md
        return out

    for _ in range(12):
        phrase = [rng.choice(alpha) for _ in range(rng.randrange(1, 5))]
        got = {
            r["doc_id"]: r["phrase_tf"]
            for r in phrase_search_packed_terms(
                spark, segs, phrase, block=8
            ).collect()
        }
        assert got == py_phrase(phrase), phrase
    for _ in range(4):
        a, b = rng.sample(alpha, 2)
        w = rng.randrange(1, 6)
        got = {
            r["doc_id"]: r["min_dist"]
            for r in proximity_search_packed_terms(
                spark, segs, a, b, w, block=8
            ).collect()
        }
        assert got == py_prox(a, b, w), (a, b, w)


def test_positional_delta_last_run_wins(spark):
    """A doc re-landed by a positional delta run supersedes its old
    positions in the query kernels (per-term doc-level last-run-wins,
    _PosList) — the same upsert contract the TF segments have."""
    v1 = spark.createDataFrame(
        [(1, ["alpha", "beta", "gamma"]), (2, ["beta", "gamma"])],
        "doc_id long, lemmas array<string>",
    )
    v2 = spark.createDataFrame(  # doc 1 re-landed: "gamma alpha"
        [(1, ["gamma", "alpha"])], "doc_id long, lemmas array<string>"
    )
    segs = build_positional_segments(v1, n_shards=2, run_id=0).union(
        build_positional_segments(v2, n_shards=2, run_id=1)
    )
    # matches only the NEW version's order...
    got = phrase_search_packed_terms(spark, segs, ["gamma", "alpha"]).collect()
    assert [(r["doc_id"], r["phrase_tf"]) for r in got] == [(1, 1)]
    # ...and the OLD version's order no longer matches (alpha's
    # positions come from run 1)
    assert (
        phrase_search_packed_terms(spark, segs, ["alpha", "beta"]).count()
        == 0
    )


def test_unpack_repack_positional_roundtrip(spark, prepared, pos_segments):
    """unpack_positional → repack_positional reproduces the packed
    runs byte-identically (the compaction kernel is lossless)."""
    from searchengine_spark.index.positional import (
        repack_positional,
        unpack_positional,
    )

    repacked = repack_positional(unpack_positional(pos_segments))
    a = {(r["term"], r["shard"]): r for r in pos_segments.rows.collect()}
    b = {(r["term"], r["shard"]): r for r in repacked.rows.collect()}
    assert a.keys() == b.keys()
    for k, ra in a.items():
        rb = b[k]
        for col in ("n_docs", "doc_ids", "counts", "positions",
                    "block_last_doc", "block_off_pos"):
            assert ra[col] == rb[col], (k, col)


@pytest.mark.parametrize("k,n_excluded", [(5, 0), (3, 4), (1000, 2)])
def test_fused_topk_count_kernel(spark, prepared, pos_segments, k,
                                 n_excluded):
    """phrase_search_packed_topk_count (the one-pass serve kernel) vs
    the plain phrase frame: Σ trailer n_matched = the exact match total
    after the deny-list, the hit rows are a superset of the global
    top-k (each shard contributes ITS top-k), and the driver-side
    merge reproduces the global page exactly."""
    from searchengine_spark.index.positional import (
        merge_phrase_rows,
        phrase_search_packed_topk_count,
    )

    phrase = _pick_phrase(prepared, 2)
    want = _as_dict(
        phrase_search_packed_terms(spark, pos_segments, phrase)
    )
    excluded = sorted(want)[:n_excluded]
    for d in excluded:
        want.pop(d)

    rows = phrase_search_packed_topk_count(
        spark, pos_segments, phrase, k,
        excluded_doc_ids=excluded or None,
    ).collect()
    trailers = [r for r in rows if r["is_trailer"]]
    assert 1 <= len(trailers) <= N_SHARDS  # one per shard with the terms
    got_count = sum(r["n_matched"] for r in trailers)
    assert got_count == len(want)
    # ≤ (k+1) rows per shard reach the driver
    assert len(rows) <= N_SHARDS * (k + 1)
    page = sorted(
        ((r["doc_id"], r["phrase_tf"]) for r in rows if not r["is_trailer"]),
        key=lambda t: (-t[1], t[0]),
    )[:k]
    want_page = sorted(
        want.items(), key=lambda t: (-t[1], t[0])
    )[:k]
    assert page == want_page
    assert merge_phrase_rows(rows, k) == (want_page, len(want))
    # excluded docs never appear
    assert not set(excluded) & {d for d, _ in page}


def test_fused_count_rides_trailer_not_doc_id(spark, tmp_path):
    """xxhash64 doc ids span all of int64, -1 included: a real match
    with doc_id -1 must be served as a hit and counted once — the
    count travels in the trailer's own column, not a doc_id value."""
    from searchengine_spark.index.positional import (
        merge_phrase_rows,
        phrase_search_packed_topk_count,
    )

    prepared = spark.createDataFrame(
        [(-1, ["a", "b", "c"]), (5, ["a", "b"]),
         (7, ["x", "a", "b", "a", "b"]), (9, ["b", "a"])],
        "doc_id long, lemmas array<string>",
    )
    path = str(tmp_path / "possegs")
    write_positional_segments(build_positional_segments(prepared, 2), path)
    segs = read_packed(spark, path)
    rows = phrase_search_packed_topk_count(spark, segs, ["a", "b"], 10)
    assert merge_phrase_rows(rows.collect(), 10) == (
        [(7, 2), (-1, 1), (5, 1)], 3
    )
    # a deny-listed -1 disappears from page and count alike
    rows = phrase_search_packed_topk_count(
        spark, segs, ["a", "b"], 10, excluded_doc_ids=[-1]
    )
    assert merge_phrase_rows(rows.collect(), 10) == ([(7, 2), (5, 1)], 2)
