"""Positional packed index: phrase queries served from compressed
posting runs, not a corpus scan.

operators/phrase.py answers phrase/proximity queries by scanning the
corpus — correct, and the right plan for ad-hoc curation passes, but a
query ENGINE cannot re-read 100 TB of text per phrase. This module
adds the positional layer real fulltext indexes carry (the reference
stores bag-of-words TF only, LemmaMapper.java:15-43, so this is
beyond-reference capability): per (term, shard) runs of

    doc_ids    rank gaps, varbyte         (same layout as segments.py:
                                           ranks in the (run, shard)'s
                                           doc table)
    counts     varbyte, one per doc       (positions per doc)
    positions  per-doc delta-gap varbyte, concatenated in doc order

with per-block (BLOCK docs) skip metadata: last docID and the byte
offset of the block's first position value — so the query kernel
decodes position bytes ONLY for blocks containing candidate docs. Each
(run, shard) has one doc table of ids only (<tree>/_docs, as in
segments.py); the pack takes it from its own input's distinct doc ids
per shard.

Scale shape (same argument as segments.py): shard = pmod(hash(doc_id),
n_shards) bounds every build group and every query kernel group to
~corpus/n_shards docs regardless of term skew, and makes doc-space
intersection shard-local. The build pre-aggregates positions per
(doc, term) INSIDE a pandas UDF (one Arrow row per doc-term with a
position array — the same "count where it's local" move as
term_counts_udf), so the build shuffle carries doc-term rows, never
one row per token occurrence. Build, delta runs and compaction pack
those rows through the TF layer's pack driver (segments._pack_walk),
with _pack_pos_group as the per-group body.

Query: rarest-first docID intersection (decode-cheap streams first),
then lazy per-block position decode for survivors, then the classic
shift-and-intersect. Only the phrase terms' runs are read (parquet
min/max prunes the term-sorted files) and the only shuffle is the
groupBy(shard) that cogroups those runs.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import textproc
from . import varbyte as vb
from .segments import (
    BLOCK,
    POS_DOCS_SCHEMA,
    DocTable,
    Packed,
    ReadSizes,
    _built,
    _pack_walk,
    collect_docs,
    decode_ranks,
    encode_ranks,
    last_run_wins,
    run_tables,
    shard_of,
    write_packed,
)

POSITIONAL_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("run_id", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("counts", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), False),
        T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
        T.StructField("block_off_pos", T.ArrayType(T.LongType()), False),
    ]
)

_POS_LISTS_TYPE = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("poss", T.ArrayType(T.ArrayType(T.IntegerType()))),
    ]
)


@F.pandas_udf(_POS_LISTS_TYPE)
def _positional_lists_udf(lemmas: pd.Series) -> pd.DataFrame:
    """ordered lemma list → (distinct terms, per-term position lists).
    Positions index the LEMMA stream (the same stream whose counts are
    the TF postings), computed inside the doc row — no token explode."""
    terms_out, poss_out = [], []
    for ls in lemmas:
        acc: dict[str, list[int]] = {}
        if ls is not None:
            for i, t in enumerate(ls):
                acc.setdefault(t, []).append(i)
        terms_out.append(list(acc.keys()))
        poss_out.append(list(acc.values()))
    return pd.DataFrame({"terms": terms_out, "poss": poss_out})


def _pack_pos_group(g: dict, tables: dict[int, DocTable], block: int,
                    run_id: int) -> dict:
    """The positional per-group body of the pack driver: one
    (term, shard) group of (doc_id, positions) → one packed positional
    run row tagged with ``run_id`` (0 = base build / compacted; delta
    runs carry the run id write_delta_run allocated — the same
    lifecycle contract as segments.py), its ids coded as ranks in the
    run's doc table of its shard (`tables`: shard → DocTable)."""
    order = np.argsort(g["doc_id"], kind="stable")
    doc_ids = g["doc_id"][order].astype(np.int64)
    pos_lists = g["positions"][order]
    n = len(doc_ids)
    counts = np.fromiter(map(len, pos_lists), dtype=np.int64, count=n)
    flat = (
        np.concatenate(pos_lists).astype(np.uint64) if n
        else np.empty(0, dtype=np.uint64)
    )
    # per-doc delta gaps, each doc's first position raw, concatenated
    # in doc order (the wrapped differences at doc starts are replaced)
    starts = np.cumsum(counts) - counts
    gaps = flat.copy()
    gaps[1:] -= flat[:-1]
    first = starts[counts > 0]
    gaps[first] = flat[first]
    block_starts = np.arange(-(-n // block), dtype=np.int64) * block
    # byte offset of each block's first position value
    lens = vb.varbyte_lengths(gaps).astype(np.int64)
    cum = np.concatenate((np.zeros(1, dtype=np.int64), np.cumsum(lens)))
    _, rank_gaps = encode_ranks(doc_ids, tables[int(g["shard"][0])])
    return {
        "term": g["term"][0],
        "shard": int(g["shard"][0]),
        "run_id": int(run_id),
        "n_docs": n,
        "doc_ids": vb.varbyte_encode(rank_gaps),
        "counts": vb.varbyte_encode(counts.astype(np.uint64)),
        "positions": vb.varbyte_encode(gaps, nbytes=lens),
        "block_last_doc":
            doc_ids[np.minimum(block_starts + block, n) - 1].tolist(),
        "block_off_pos": cum[starts[block_starts]].tolist(),
    }


def positional_rows(prepared: DataFrame, n_shards: int) -> DataFrame:
    """prepared docs (doc_id, lemmas) → (term, shard, doc_id,
    positions) rows, one per doc-term: the positional pack's input."""
    return (
        prepared.select(
            "doc_id", _positional_lists_udf("lemmas").alias("pc")
        )
        .select(
            "doc_id",
            F.explode(F.arrays_zip("pc.terms", "pc.poss")).alias("e"),
        )
        .select(
            F.col("e.terms").alias("term"),
            shard_of(n_shards).alias("shard"),
            "doc_id",
            F.col("e.poss").alias("positions"),
        )
    )


def build_positional_segments(
    prepared: DataFrame,
    n_shards: int,
    block: int = BLOCK,
    run_id: int = 0,
) -> Packed:
    """prepared docs (doc_id, lemmas) → the positional tree of one run
    (rows and doc tables; the tables hold every input doc, and their
    ids need no analysis pass). ``run_id`` > 0 builds a DELTA run
    (single-page reindex — the same append/last-run-wins/compaction
    contract segments.py gives the TF layer; reference analog
    IndexingService.java:71-95)."""
    return repack_positional(
        positional_rows(prepared, n_shards), block=block, run_id=run_id,
        docs=prepared.select(shard_of(n_shards).alias("shard"), "doc_id"),
    )


def repack_positional(
    cur: DataFrame, block: int = BLOCK, run_id: int = 0,
    docs: DataFrame | None = None,
) -> Packed:
    """(term, shard, doc_id, positions) rows — positional_rows, or the
    current view of packed runs (refresh.current_view over
    unpack_positional) — → the positional tree of one run, through the
    one pack driver (segments._pack_walk) with _pack_pos_group as the
    per-group body. The run's doc tables are `docs` (shard, doc_id,
    one row per doc) when given, else the distinct docs of `cur`,
    collected once."""
    if docs is None:
        docs = cur.select("shard", "doc_id").distinct()
    docs_pdf = collect_docs(docs, run_id)
    tables = run_tables(docs_pdf)
    rows = _pack_walk(
        cur.select("term", "shard", "doc_id", "positions"), "doc_id",
        lambda g: _pack_pos_group(g, tables, block, run_id),
        POSITIONAL_SEGMENTS_SCHEMA,
    )
    return _built(cur.sparkSession, rows, docs_pdf, POS_DOCS_SCHEMA)


def write_positional_segments(
    segments: Packed, path: str, mode: str = "overwrite"
) -> None:
    """Write a positional tree — segments.write_packed's layout."""
    write_packed(segments, path, mode)


UNPACKED_POS_SCHEMA = (
    "term string, shard int, doc_id long, positions array<int>, run_id int"
)


def unpack_positional(segments: Packed) -> DataFrame:
    """A positional tree → relational (term, shard, doc_id, positions,
    run_id). Pure map over segment rows (no grouping, no shuffle; the
    collected doc tables ride the closure) — the compaction input
    (refresh.current_view), mirroring refresh.unpack_postings."""
    tables = segments.tables()

    def run(batches):
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                t = tables[int(row["shard"])][int(row["run_id"])]
                ids = t.ids[decode_ranks(bytes(row["doc_ids"]), t)]
                counts = vb.varbyte_decode(
                    bytes(row["counts"])
                ).astype(np.int64)
                gaps = vb.varbyte_decode(bytes(row["positions"]))
                plists, s = [], 0
                for c in counts:
                    c = int(c)
                    plists.append(
                        np.cumsum(gaps[s : s + c]).astype(np.int32)
                    )
                    s += c
                out.append(
                    pd.DataFrame(
                        {
                            "term": row["term"],
                            "shard": int(row["shard"]),
                            "doc_id": ids,
                            "positions": plists,
                            "run_id": int(row["run_id"]),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return segments.rows.select(
        "term", "shard", "run_id", "doc_ids", "counts", "positions"
    ).mapInPandas(run, schema=UNPACKED_POS_SCHEMA)


def _decode_positions_for(
    row: dict,
    want_idx: np.ndarray,
    ids_n: int,
    counts: np.ndarray,
    block: int,
) -> dict[int, np.ndarray]:
    """Decode position arrays for the docs at indices ``want_idx`` of
    one run, touching only the blocks that contain them."""
    offs = list(row["block_off_pos"])
    pos_bytes = bytes(row["positions"])
    offs.append(len(pos_bytes))
    val_starts = np.concatenate(
        (np.zeros(1, dtype=np.int64), np.cumsum(counts.astype(np.int64)))
    )
    out: dict[int, np.ndarray] = {}
    for b in np.unique(want_idx // block):
        b = int(b)
        lo_doc = b * block
        hi_doc = min((b + 1) * block, ids_n)
        vals = vb.varbyte_decode(pos_bytes[offs[b] : offs[b + 1]])
        base = val_starts[lo_doc]
        for i in want_idx[(want_idx >= lo_doc) & (want_idx < hi_doc)]:
            i = int(i)
            s = int(val_starts[i] - base)
            e = int(s + counts[i])
            # int64: uint64 arithmetic would wrap on the phrase shift
            # (position 0 − offset) instead of going negative
            out[i] = np.cumsum(vals[s:e]).astype(np.int64)
    return out


class _PosList:
    """One term's positional runs within one shard — doc-level
    last-run-wins across delta runs (upsert semantics:
    segments.last_run_wins, as in wand._TermList), each run's ids
    decoded through its doc table (`tables`: run → DocTable), position
    bytes decoded lazily per block and only from each doc's OWNING
    run."""

    __slots__ = ("ids", "_runs", "_owner_run", "_owner_idx", "_block")

    def __init__(self, rows: pd.DataFrame, tables: dict[int, DocTable],
                 block: int):
        self._block = block
        rows = rows.sort_values("run_id")
        self._runs = []
        for _, row in rows.iterrows():
            t = tables[int(row["run_id"])]
            ids = t.ids[decode_ranks(bytes(row["doc_ids"]), t)]
            counts = vb.varbyte_decode(bytes(row["counts"]))
            self._runs.append((row, ids, counts))
        if len(self._runs) == 1:
            self.ids = self._runs[0][1]
            self._owner_run = None
            self._owner_idx = None
            return
        lens = [len(r[1]) for r in self._runs]
        sel = last_run_wins([r[1] for r in self._runs])
        self.ids = np.concatenate([r[1] for r in self._runs])[sel]
        self._owner_run = np.repeat(np.arange(len(lens)), lens)[sel]
        self._owner_idx = sel - np.cumsum([0] + lens[:-1])[self._owner_run]

    def positions_for(self, want: np.ndarray) -> dict[int, np.ndarray]:
        """want = indices into self.ids → {want index: positions}."""
        if self._owner_run is None:
            row, ids, counts = self._runs[0]
            return _decode_positions_for(
                row, want, len(ids), counts, self._block
            )
        out: dict[int, np.ndarray] = {}
        owners = self._owner_run[want]
        for rn in np.unique(owners):
            sel = want[owners == rn]
            row, ids, counts = self._runs[int(rn)]
            ridx = self._owner_idx[sel]
            dec = _decode_positions_for(
                row, ridx, len(ids), counts, self._block
            )
            for w, oi in zip(sel, ridx):
                out[int(w)] = dec[int(oi)]
        return out


def _phrase_kernel(
    pdf: pd.DataFrame, tables: dict[int, DocTable], phrase: list[str],
    block: int, allowed: np.ndarray | None = None,
    excluded: np.ndarray | None = None,
) -> pd.DataFrame:
    """One shard's runs for the phrase's distinct terms, with its doc
    tables by run → matching (doc_id, phrase_tf) rows. `allowed` / `excluded` (sorted int64, as
    wand._filter takes them) drop candidates before any position
    bytes are decoded."""
    from .wand import _filter

    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "phrase_tf": pd.Series([], dtype="int64")})
    lists = {
        t: _PosList(rows, tables, block)
        for t, rows in pdf.groupby("term", sort=False)
    }
    uniq = sorted(set(phrase))
    if any(t not in lists for t in uniq):
        return empty
    ids = {t: lists[t].ids for t in uniq}
    # rarest-first docID intersection — position bytes untouched so far
    cand = None
    for t in sorted(uniq, key=lambda t: len(ids[t])):
        cand = ids[t] if cand is None else np.intersect1d(
            cand, ids[t], assume_unique=True
        )
        if len(cand) == 0:
            return empty
    cand = _filter(cand, allowed, excluded)
    if len(cand) == 0:
        return empty
    # lazy per-block position decode for survivors only
    pos: dict[str, dict[int, np.ndarray]] = {}
    idx_of: dict[str, np.ndarray] = {}
    for t in uniq:
        want = np.searchsorted(ids[t], cand)
        idx_of[t] = want
        pos[t] = lists[t].positions_for(want)
    out_ids, out_tfs = [], []
    for j, d in enumerate(cand):
        starts = pos[phrase[0]][int(idx_of[phrase[0]][j])]
        for off, w in enumerate(phrase[1:], start=1):
            nxt = pos[w][int(idx_of[w][j])] - off
            starts = np.intersect1d(starts, nxt, assume_unique=True)
            if len(starts) == 0:
                break
        if len(starts):
            out_ids.append(int(d))
            out_tfs.append(len(starts))
    return pd.DataFrame(
        {"doc_id": pd.Series(out_ids, dtype="int64"),
         "phrase_tf": pd.Series(out_tfs, dtype="int64")}
    )


def _proximity_kernel(
    pdf: pd.DataFrame, tables: dict[int, DocTable], term_a: str,
    term_b: str, max_dist: int, block: int,
) -> pd.DataFrame:
    """One shard's two runs → (doc_id, min_dist ≤ max_dist) rows.
    Min distance per doc is a sorted-merge (searchsorted against the
    other term's positions), O((tf_a+tf_b)·log) — no position cross."""
    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "min_dist": pd.Series([], dtype="int64")})
    lists = {
        t: _PosList(rows, tables, block)
        for t, rows in pdf.groupby("term", sort=False)
    }
    if term_a not in lists or term_b not in lists:
        return empty
    ids = {t: lists[t].ids for t in (term_a, term_b)}
    cand = np.intersect1d(ids[term_a], ids[term_b], assume_unique=True)
    if len(cand) == 0:
        return empty
    pos, idx_of = {}, {}
    for t in (term_a, term_b):
        want = np.searchsorted(ids[t], cand)
        idx_of[t] = want
        pos[t] = lists[t].positions_for(want)
    out_ids, out_d = [], []
    for j, d in enumerate(cand):
        pa = pos[term_a][int(idx_of[term_a][j])]
        pb = pos[term_b][int(idx_of[term_b][j])]
        k = np.searchsorted(pb, pa)
        right = np.abs(pb[np.clip(k, 0, len(pb) - 1)] - pa)
        left = np.abs(pa - pb[np.clip(k - 1, 0, len(pb) - 1)])
        md = int(min(right.min(), left.min()))
        if md <= max_dist:
            out_ids.append(int(d))
            out_d.append(md)
    return pd.DataFrame(
        {"doc_id": pd.Series(out_ids, dtype="int64"),
         "min_dist": pd.Series(out_d, dtype="int64")}
    )


def proximity_search_packed_terms(
    spark: SparkSession,
    pos_segments: Packed,
    term_a: str,
    term_b: str,
    max_dist: int,
    block: int = BLOCK,
) -> DataFrame:
    """(doc_id, min_dist): docs where the two lemmas occur within
    ``max_dist`` tokens, served from the positional runs. A full match
    set, not bounded by k, so a lazy plan (index/wand._shard_frame),
    like phrase_search_packed_terms."""
    if term_a == term_b:
        raise ValueError("proximity terms must differ")
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    from .wand import _shard_frame

    return _shard_frame(
        pos_segments, [term_a, term_b],
        lambda pdf, tables, _: _proximity_kernel(
            pdf, tables, term_a, term_b, max_dist, block),
        "doc_id long, min_dist long",
    )


def phrase_search_packed_terms(
    spark: SparkSession,
    pos_segments: Packed,
    phrase: list[str],
    block: int = BLOCK,
) -> DataFrame:
    """(doc_id, phrase_tf) for an already-analyzed lemma sequence: the
    full match set, not bounded by k, so a lazy plan
    (index/wand._shard_frame)."""
    if not phrase:
        return spark.createDataFrame([], "doc_id long, phrase_tf long")
    from .wand import _shard_frame

    return _shard_frame(
        pos_segments, sorted(set(phrase)),
        lambda pdf, tables, _: _phrase_kernel(pdf, tables, list(phrase), block),
        "doc_id long, phrase_tf long",
    )


PHRASE_KERNEL_SCHEMA = (
    "doc_id long, phrase_tf long, is_trailer boolean, n_matched long"
)


def _phrase_topk_count_kernel(
    pdf: pd.DataFrame, tables: dict[int, DocTable], phrase: list[str],
    block: int, k: int, allowed: np.ndarray | None,
    excluded: np.ndarray | None,
) -> pd.DataFrame:
    """_phrase_kernel PLUS the shard's pre-pagination match count in
    the SAME pass: the shard's top-k rows by (phrase_tf desc, doc_id
    asc) followed by the trailer row of index/wand's kernel contract,
    whose n_matched carries the shard match count over the filtered
    candidates (`allowed`, `excluded` as in _phrase_kernel)."""
    from .wand import with_trailer

    res = _phrase_kernel(pdf, tables, phrase, block, allowed, excluded)
    ids = res["doc_id"].to_numpy(dtype=np.int64)
    tfs = res["phrase_tf"].to_numpy(dtype=np.int64)
    sel = np.lexsort((ids, -tfs))[:k]
    return with_trailer(
        {"doc_id": ids[sel], "phrase_tf": tfs[sel]},
        {"n_matched": len(ids)},
    )


def phrase_search_packed_topk_count(
    spark: SparkSession,
    pos_segments: Packed,
    phrase: list[str],
    k: int,
    excluded_doc_ids: list[int] | None = None,
    block: int = BLOCK,
    sizes: ReadSizes | None = None,
    side: DataFrame | None = None,
) -> SimpleNamespace:
    """Fused phrase top-k + match count in ONE kernel pass per shard →
    a deferred read whose collect() returns ≤ shards·(k+1) rows of
    PHRASE_KERNEL_SCHEMA — each shard's top-k page candidates plus its
    trailer row. The caller merges with merge_phrase_rows.

    `side`: an optional (shard, doc_id, …) frame keyed to the doc-space
    shards — only its docs match (the `allowed` filter of wand_shard
    and bool_shard), cogrouped into each shard's kernel.

    Plan shape: index/wand._shard_rows over the phrase's distinct
    terms, on the driver when the input bound from `sizes` (the warm
    server's segments.ReadSizes, at the positional layout) is ≤
    segments.DRIVER_READ_BYTES_MAX, else — also without `sizes` — as
    one applyInPandas task per shard. `spark` is unused; it keeps the
    call shape perfbench/tracing.py wraps."""
    from .wand import _allowed_of, _deny_list, _shard_rows

    if k < 0:
        raise ValueError(f"k must be >= 0 (got {k})")
    if not phrase:
        return SimpleNamespace(collect=list)
    exc = _deny_list(excluded_doc_ids)
    return SimpleNamespace(collect=lambda: _shard_rows(
        pos_segments, sorted(set(phrase)),
        lambda pdf, tables, side_pdf: _phrase_topk_count_kernel(
            pdf, tables, list(phrase), block, k, _allowed_of(side_pdf), exc
        ),
        PHRASE_KERNEL_SCHEMA, side=side, sizes=sizes, positional=True,
    )[0])


def merge_phrase_rows(rows, k: int) -> tuple[list[tuple[int, int]], int]:
    """Driver-side merge of phrase_search_packed_topk_count rows →
    (global top-k [(doc_id, phrase_tf)] by (phrase_tf desc, doc_id
    asc), Σ trailer n_matched)."""
    page = sorted(
        ((r["doc_id"], r["phrase_tf"]) for r in rows if not r["is_trailer"]),
        key=lambda t: (-t[1], t[0]),
    )[:k]
    return page, int(sum(r["n_matched"] for r in rows if r["is_trailer"]))


def phrase_search_packed(
    spark: SparkSession,
    pos_segments: Packed,
    query: str,
    block: int = BLOCK,
) -> DataFrame:
    """(doc_id, phrase_tf): docs whose LEMMA stream contains the
    query's lemma sequence consecutively. The query goes through the
    same analyzer as the corpus (tokenize_lemmatize, duplicates and
    order PRESERVED — unlike lemmatize_query's set semantics, a phrase
    needs the full sequence)."""
    return phrase_search_packed_terms(
        spark, pos_segments, textproc.tokenize_lemmatize(query), block
    )
