"""Lazy per-block decode: block-sliced decode must equal the full
decode for arbitrary packed groups, and a lazy lookup must touch only
the blocks its candidates fall in."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.segments import BLOCK, unpack_segment
from searchengine_spark.index.wand import _TermList

from .kernels import _pack_group, tables_of


def _group(rng, n):
    ids = np.sort(
        rng.choice(10 * n + 1000, size=n, replace=False).astype(np.int64)
        - 5 * n  # mix of negative/positive doc_ids (xxhash64 range)
    )
    return pd.DataFrame(
        {
            "term": "t",
            "shard": 0,
            "doc_id": ids,
            "tf": rng.randint(1, 50, n).astype(np.int64),
            "doclen": rng.randint(10, 500, n).astype(np.int64),
            "df": n,
        }
    )


@given(st.integers(0, 10_000), st.integers(1, 700))
@settings(max_examples=40, deadline=None)
def test_lazy_block_decode_equals_full(seed, n):
    rng = np.random.RandomState(seed)
    g = _group(rng, n)
    seg, docs = _pack_group(g, n_docs=5000, avgdl=100.0, run_id=0)
    tables = tables_of(docs)
    tl = _TermList(seg, tables, 5000, 100.0)
    assert tl._full is None  # really lazy
    full_ids, full_tfs, full_dls = unpack_segment(seg.iloc[0], tables[0])[:3]
    # every individual block decodes to the right slice
    for b in range(len(tl.block_last)):
        ids_b, _ = tl._decode_block(b)
        lo, hi = b * BLOCK, min((b + 1) * BLOCK, len(full_ids))
        assert np.array_equal(ids_b, full_ids[lo:hi])
    # full assembly equal
    assert np.array_equal(tl.ids, full_ids)


@given(st.integers(0, 10_000))
@settings(max_examples=30, deadline=None)
def test_lazy_lookup_touches_only_needed_blocks(seed):
    rng = np.random.RandomState(seed)
    n = 600  # ≥ 4 blocks
    g = _group(rng, n)
    seg, docs = _pack_group(g, n_docs=5000, avgdl=100.0, run_id=0)
    tables = tables_of(docs)
    tl = _TermList(seg, tables, 5000, 100.0)
    # candidates from one known block + some misses
    probe = np.sort(
        np.concatenate(
            [
                g["doc_id"].to_numpy()[BLOCK : BLOCK + 5],  # block 1 hits
                np.array([10**15, -(10**15)], dtype=np.int64),  # misses
            ]
        )
    )
    sc, present = tl.lookup(probe)
    assert present.sum() == 5
    # only blocks overlapping the probe range were decoded
    assert set(tl._cache) <= {0, 1, len(tl.block_last) - 1}
    assert 1 in tl._cache
    assert len(tl._cache) <= 3
    # scores correct vs eager reference
    full_ids, full_tfs, full_dls = unpack_segment(seg.iloc[0], tables[0])[:3]
    from searchengine_spark.index.segments import bm25_scores_np

    ref = bm25_scores_np(full_tfs, full_dls, n, 5000, 100.0)
    for p, s, ok in zip(probe, sc, present):
        if ok:
            i = int(np.searchsorted(full_ids, p))
            assert s == ref[i]
