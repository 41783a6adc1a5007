"""Property tests: varbyte and rank-gap roundtrips (SURVEY.md §5.2.4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index import varbyte as vb
from searchengine_spark.index.segments import (
    BLOCK,
    DocTable,
    decode_ranks,
    encode_ranks,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(vb.varbyte_decode(vb.varbyte_encode(arr)), arr)


def _rank_roundtrip(ids: np.ndarray, table: DocTable) -> None:
    """The rank codec round trip, whole-list and block by block."""
    ranks, gaps = encode_ranks(ids, table)
    buf = vb.varbyte_encode(gaps)
    assert np.array_equal(table.ids[decode_ranks(buf, table)], ids)
    # a block decoded alone continues from the previous block's last doc
    lens = vb.varbyte_lengths(gaps)
    offs = np.concatenate(([0], np.cumsum(lens)))
    for lo in range(0, len(ids), BLOCK):
        hi = min(lo + BLOCK, len(ids))
        got = decode_ranks(buf[offs[lo]:offs[hi]], table,
                           after=ids[lo - 1] if lo else None)
        assert np.array_equal(got, ranks[lo:hi])


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=700, unique=True,
    ),
    st.integers(0, 2**32 - 1),
    st.floats(0.0, 1.0),
)
@settings(max_examples=200, deadline=None)
def test_rank_gap_roundtrip_signed_ids(docs, seed, share):
    """Sorted int64 doc ids (negative, extreme, single-doc and
    multi-block lists) encode to rank gaps in their (run, shard) doc
    table and decode back to the same ids."""
    table = DocTable(np.sort(np.array(docs, dtype=np.int64)))
    rng = np.random.default_rng(seed)
    keep = rng.random(len(table.ids)) < share
    keep[rng.integers(len(keep))] = True  # a list holds ≥ 1 posting
    _rank_roundtrip(table.ids[keep], table)


def test_rank_gap_extremes_and_missing_doc():
    table = DocTable(np.array([-(2**63), -1, 0, 2**63 - 1], dtype=np.int64))
    for ids in (table.ids, table.ids[:1], table.ids[-1:], table.ids[1:3]):
        _rank_roundtrip(ids, table)
    with pytest.raises(ValueError, match="missing"):
        encode_ranks(np.array([5], dtype=np.int64), table)
    with pytest.raises(ValueError, match="missing"):
        encode_ranks(np.array([2**62], dtype=np.int64), table)


def test_boundaries():
    cases = [0, 1, 127, 128, 16383, 16384, 2**56 - 1, 2**56, 2**63, 2**64 - 1]
    arr = np.array(cases, dtype=np.uint64)
    assert np.array_equal(vb.varbyte_decode(vb.varbyte_encode(arr)), arr)


def test_empty():
    assert vb.varbyte_encode(np.empty(0, dtype=np.uint64)) == b""
    assert vb.varbyte_decode(b"").size == 0
    none = np.empty(0, dtype=np.int64)
    table = DocTable(none)
    assert encode_ranks(none, table)[1].size == 0
    assert decode_ranks(b"", table).size == 0


def test_compression_ratio_small_gaps():
    # a posting list of 1 in 10 docs of its table: ~1 byte/gap, ≥ 8x
    # smaller than raw int64 ids (xxhash64 ids: random 64-bit values)
    rng = np.random.RandomState(0)
    table = DocTable(np.unique(rng.randint(-(2**63), 2**63 - 1, 100_000,
                                           dtype=np.int64)))
    ids = table.ids[::10]
    packed = vb.varbyte_encode(encode_ranks(ids, table)[1])
    assert len(packed) <= ids.nbytes / 8
    assert np.array_equal(table.ids[decode_ranks(packed, table)], ids)
