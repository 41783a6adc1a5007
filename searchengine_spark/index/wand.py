"""Block-max WAND top-k retrieval over packed segments.

North-rule query path: "conjunctive/disjunctive posting-list
intersection with block-max WAND pruning and Okapi BM25 top-k heap
scoring". Reference analog: the AND-intersection + scoring loop of
services/ApiService.java:127-139, which walked Java lists row-by-row;
here each shard's intersection runs as one vectorized numpy kernel
inside applyInPandas, and shards execute in parallel across the
cluster.

Lazy block decode: segments carry per-block byte offsets
(schemas.INDEX_SEGMENTS_SCHEMA), so the kernel decodes ONLY the blocks
it touches — the rarest list fully (it drives the intersection), and
for every other list just the blocks its candidates fall in. A
stopword-heavy list is never decoded wholesale; at 10^12 docs that is
the difference between O(candidate-blocks) and O(list) work per query.
A block decodes to RANKS in its (run, shard)'s doc table (about one
varbyte byte per posting, segments.decode_ranks) plus its tfs; one
gather by rank from the table gives the block's doc ids, doclens and
title lengths, and everything after it works on doc ids. Every kernel
gets its shard's tables with its rows (_shard_rows). Multi-run
(un-compacted incremental) segments and legacy scoring fall back to
eager full decode, each run through its own table.

Soundness (rank-identity contract): pruning only ever SKIPS a doc when
a provable upper bound on its total BM25 score is below the current
threshold θ:

  * conjunctive: candidates start from the rarest term's postings
    (R1, reference ApiService.java:205-220) and are intersected with
    every other term via sorted-array searchsorted — no doc that
    matches all terms is ever dropped; scores are then EXACT.
  * disjunctive: a block b of term t is prunable iff
    block_max_t(b) + Σ_{u≠t} global_max_u < θ. A doc is dropped only
    if EVERY block containing it is prunable, which implies its exact
    score < θ. Survivors are scored exactly against ALL lists (lookup
    decodes pruned blocks when a candidate lands in one — pruning
    limits the candidate set, never the scoring).

θ is seeded with the k-th best exact score of the SHORTEST list (a
valid lower bound on the final k-th best total: every doc's total ≥
its single-term score there), zero when it has < k postings. Exact
float64 scoring from packed (tf, doclen) integers keeps scores
bit-comparable with the relational path and the oracle.

Kernel output contract — every packed read (WAND, boolean, phrase)
runs ONE kernel call per shard (_shard_frame) that emits the shard's
hit rows plus ONE trailer row (is_trailer = True). Hit rows carry
doc_id, score, n_hit (query terms present) and site_id (the collapse
kernels' site, else 0), with zeros in the trailer columns; the trailer
carries the shard's counters in dedicated columns, never as a sentinel
value of a hit column:

  n_matched         pre-top-k match count — filled when the driver
                    asked for a count (wand_shard count=True), else 0
  n_postings        Σ postings across this shard's query terms
  n_blocks          Σ compressed blocks across those terms
  n_blocks_decoded  blocks actually decompressed — the rest were
                    skipped by block-max pruning / lazy lookup
  n_candidates      docs entering the probe phase (multi-term
                    conjunctive: driving-list survivors after the
                    filters; otherwise the union of docs in θ-surviving
                    blocks, after the filters)
  n_scored          docs fully scored (conjunctive: the intersection,
                    i.e. the match count; otherwise == n_candidates,
                    which under pruning is LESS than the match count)
  theta             the θ lower bound used for block pruning (0.0 when
                    pruning is off)

The driver merge (_merge) ranks hit rows (score desc, doc_id asc)
and sums the trailers' n_matched; service.explain sums the other
counters. The phrase kernel (index/positional.py) fills n_matched
only.

Every ranked packed read — output bounded by k — has ONE
implementation: the kernels' rows collected through _shard_rows, then
the driver merge. search_packed_fused (and everything on it — count,
cursor, collapse, boosts, bm25f, prefix, more-like-this),
bool_search_packed_fused, phrase_search_packed_topk_count and
service.explain read this way; the DataFrame APIs search_packed,
bool_search_packed and prefix_search_packed are views over the same
reads (_page_frame). Only reads whose output is NOT bounded by k keep
a lazy plan, _shard_frame (term-pruned scan → cogroup with the doc
tables and any side frame → applyInPandas): facet_counts_packed
aggregates its per-shard facet partials distributed, and
phrase_search_packed_terms / proximity_search_packed_terms return
full match sets.

Two executors run a collected read's kernels. _shard_rows runs them
on the DRIVER when an upper bound on their input bytes is ≤
segments.DRIVER_READ_BYTES_MAX, a cutoff measured against the
applyInPandas plan (_shard_frame). The bound comes from
statistics the caller already holds (a segments.ReadSizes: postings
and positions per term over every run, and the rows a side frame is
drawn from), with no Spark job. Above it, or for a caller without
sizes, the read keeps the distributed plan. The driver executor
replaces a Python-worker task per shard (a fixed cost, whatever the
input — see _shard_rows) by one JVM-only Arrow collect per frame; both
executors see the same rows per shard and return the same rows, so
responses, counts and rankings do not depend on the side a read took.
Driver kernels of concurrent requests share this process: kernels keep
no mutable module-level state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.fielded import (
    BM25F_K1,
    FIELD_B_BODY,
    FIELD_B_TITLE,
)
from ..operators.search import lemmatize_query
from . import varbyte as vb
from .segments import (
    BLOCK,
    DRIVER_READ_BYTES_MAX,
    DocTable,
    Packed,
    ReadSizes,
    _field_norm_np,
    bm25_scores_np,
    decode_ranks,
    side_frame,
    split_side,
    unpack_runs,
)

# modes whose _TermList.block_max is a sound per-posting upper bound
# (bm25: the stored exact per-block max; bm25f: the field-weighted
# bound built in __init__) — every pruning/θ-seed path gates on this;
# legacy sum/max tf ratios have no sound block bound and score
# exhaustively
PRUNABLE_MODES = ("bm25", "bm25f")

# default BM25F field weights (title hits worth 2× a body hit — the
# conventional starting point; callers override per query)
DEFAULT_FIELD_WEIGHTS = {"body": 1.0, "title": 2.0}


def _resolve_fweights(mode: str, field_weights: dict | None):
    """dict {"body": w, "title": w} → the (w_body, w_title) tuple the
    kernels take; None for non-bm25f modes. Validates early,
    driver-side — a bad weight must never surface as an executor
    PythonException."""
    if field_weights is not None and mode != "bm25f":
        raise ValueError(
            f"field_weights need mode='bm25f' (got mode={mode!r})"
        )
    if mode != "bm25f":
        return None
    fw = DEFAULT_FIELD_WEIGHTS if field_weights is None else field_weights
    extra = set(fw) - {"body", "title"}
    if extra:
        raise ValueError(
            f"unknown fields {sorted(extra)} — packed BM25F serves "
            "body and title"
        )
    wb = float(fw.get("body", 1.0))
    wt = float(fw.get("title", 1.0))
    if wb <= 0.0 or wt <= 0.0:
        raise ValueError(f"field weights must be > 0 (got {fw})")
    return (wb, wt)

# every kernel's applyInPandas output (module docstring: hit rows +
# one trailer row per shard)
KERNEL_SCHEMA = (
    "doc_id long, score double, n_hit int, site_id long, "
    "is_trailer boolean, n_matched long, n_postings long, n_blocks long, "
    "n_blocks_decoded long, n_candidates long, n_scored long, theta double"
)

# Per-field TF layer columns (packed BM25F). Only the mode="bm25f"
# kernel ever reads these; every other packed query projects them out
# BEFORE the applyInPandas, so the title-tf stream (~1 byte per
# posting — as large as the tf stream; title lengths sit in the doc
# table) never leaves the parquet scan or crosses the Arrow boundary
# into Python. Measured at sf0.1 (100k docs) with the earlier, wider
# field streams: the posting-heavy reference disjunctive queries
# ran ~55% slower when the field streams rode along with every query.
# `avgtl` (one double) is deliberately NOT listed — dropping an 8-byte
# rider buys nothing and _TermList guards on its presence anyway.
FIELD_LAYER_COLS = (
    "tfs_title", "block_off_ttf", "block_max_bnorm", "block_max_tnorm",
)


def term_pruned_segments(segments, terms, mode: str = "bm25"):
    """Term-pruned segment scan projected to the columns `mode`'s
    kernels read — the scan of the shared sharded driver (_shard_frame)
    every packed query path runs on.
    Both the `In(term, …)` filter and the column pruning reach the
    parquet scan (Catalyst pushes them through the groupBy exchange)."""
    seg = segments.filter(F.col("term").isin(list(terms)))
    if mode != "bm25f":
        drop = [c for c in FIELD_LAYER_COLS if c in segments.columns]
        if drop:
            seg = seg.drop(*drop)
    return seg


class _TermList:
    """Postings of one term within one shard — lazily block-decoded
    when a single run with block offsets is present, eager otherwise.
    `tables` are the shard's doc tables by run (segments.DocTable)."""

    __slots__ = (
        "n", "df", "block_last", "block_max", "gmax", "n_decoded",
        "_n_docs", "_avgdl", "_mode", "_boost", "_table",
        "_bids", "_btfs", "_oids", "_otfs", "_bttf", "_ottf",
        "_avgtl", "_fw", "_cache", "_full",
    )

    def __init__(self, rows: pd.DataFrame, tables: dict[int, DocTable],
                 n_docs: int, avgdl: float,
                 mode: str = "bm25", boost: float = 1.0,
                 fweights: tuple[float, float] | None = None):
        # per-term query boost (Lucene term^w): scores AND the packed
        # block-max/gmax bounds scale linearly by boost — for boost>0
        # the scaled bounds stay exact upper bounds, so every pruning
        # argument (block-max, essential-list cut, θ-seed) carries
        # over unchanged. bm25/bm25f only: legacy sum/max is a tf
        # ratio.
        if boost != 1.0 and (boost <= 0.0 or mode not in PRUNABLE_MODES):
            raise ValueError(
                f"boost must be > 0 and bm25/bm25f-mode only (got {boost}, "
                f"mode={mode})"
            )
        if mode == "bm25f":
            # (w_body, w_title), both > 0: the field-weighted bound
            # w_b·max(bnorm)+w_t·max(tnorm) is sound for positive
            # weights (IEEE multiply by a positive scalar is monotone)
            if (
                fweights is None
                or len(fweights) != 2
                or fweights[0] <= 0.0
                or fweights[1] <= 0.0
            ):
                raise ValueError(
                    f"mode='bm25f' needs fweights=(w_body, w_title) > 0, "
                    f"got {fweights}"
                )
            if "tfs_title" not in rows.columns or any(
                rows["tfs_title"].isna()
            ):
                raise ValueError(
                    "mode='bm25f' needs the per-field TF layer — repack "
                    "the index (index.segments.build_segments writes "
                    "tfs_title since the field layer landed)"
                )
        self._fw = tuple(float(w) for w in fweights) if fweights else None
        self._boost = boost
        self._n_docs, self._avgdl, self._mode = n_docs, avgdl, mode
        self.df = int(rows["df"].iloc[0])
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._full = None
        self.n_decoded = 0  # blocks actually decompressed (metrics)
        if "avgtl" in rows.columns:
            # corpus-constant rider; highest run wins (same as df).
            # Null (pre-field-layer rows) reads as NaN — treat as 0
            v = rows.sort_values("run_id")["avgtl"].iloc[-1]
            self._avgtl = float(v) if v is not None and v == v else 0.0
        else:
            self._avgtl = 0.0
        lazy = (
            len(rows) == 1
            and mode in PRUNABLE_MODES
            and "block_off_ids" in rows.columns
            and rows.iloc[0]["block_off_ids"] is not None
            and (mode != "bm25f" or rows.iloc[0]["block_off_ttf"] is not None)
        )
        if lazy:
            row = rows.iloc[0]
            self.n = int(row["n_docs"])
            self._table = tables[int(row["run_id"])]
            self._bids = bytes(row["doc_ids"])
            self._btfs = bytes(row["tfs"])
            self._oids = np.asarray(row["block_off_ids"], dtype=np.int64)
            self._otfs = np.asarray(row["block_off_tfs"], dtype=np.int64)
            self.block_last = np.asarray(row["block_last_doc"], dtype=np.int64)
            if mode == "bm25f":
                self._bttf = bytes(row["tfs_title"])
                self._ottf = np.asarray(row["block_off_ttf"], dtype=np.int64)
                # field-weighted block bound: x̄ = w_b·max(bnorm) +
                # w_t·max(tnorm) dominates every posting's x in the
                # block (per-field max + positive-scalar monotonicity);
                # the saturation S(x)=x(1+k1)/(k1+x) is increasing, so
                # idf·S(x̄) ≥ idf·S(x) = the exact posting score
                wb, wt = self._fw
                xbar = (
                    wb * np.asarray(row["block_max_bnorm"], dtype=np.float64)
                    + wt * np.asarray(row["block_max_tnorm"], dtype=np.float64)
                )
                self.block_max = self._saturate(xbar)
            else:
                self._bttf = b""
                self._ottf = np.empty(0, dtype=np.int64)
                self.block_max = np.asarray(
                    row["block_max_score"], dtype=np.float64
                )
            if self._boost != 1.0:
                self.block_max = self.block_max * self._boost
            self.gmax = float(self.block_max.max()) if self.n else 0.0
            return
        # eager: merge runs (last run wins per doc_id — upsert)
        self._table = None
        self._bids = self._btfs = self._bttf = b""
        self._oids = self._otfs = self._ottf = np.empty(0, dtype=np.int64)
        if len(rows) > 1:
            rows = rows.sort_values("run_id")
        ids, tfs, dls, ttfs, tls = unpack_runs(
            (r for _, r in rows.iterrows()), tables
        )
        scores = self._score(tfs, dls, ttfs, tls)
        self._full = (ids, scores)
        self.n = len(ids)
        n_blocks = -(-self.n // BLOCK) if self.n else 0
        self.n_decoded = n_blocks  # eager path decompresses everything
        self.block_last = np.array(
            [ids[min((i + 1) * BLOCK, self.n) - 1] for i in range(n_blocks)],
            dtype=np.int64,
        )
        self.block_max = np.array(
            [scores[i * BLOCK : (i + 1) * BLOCK].max() for i in range(n_blocks)],
            dtype=np.float64,
        )
        self.gmax = float(scores.max()) if self.n else 0.0

    @property
    def ids(self) -> np.ndarray:
        """Full docID array (forces decode — tests/driving list only)."""
        return self.decode_all()[0]

    @property
    def scores(self) -> np.ndarray:
        """Full score array (forces decode)."""
        return self.decode_all()[1]

    def _saturate(self, x: np.ndarray) -> np.ndarray:
        """idf · x·(1+k1)/(k1+x) — the BM25F per-term score as a
        function of the field-combined tf~ (same literal structure as
        operators.fielded.bm25f_term_score for e4 bit-parity)."""
        idf = np.log(
            1.0 + (self._n_docs - self.df + 0.5) / (self.df + 0.5)
        )
        return idf * x * (1.0 + BM25F_K1) / (BM25F_K1 + x)

    def _score(
        self,
        tfs: np.ndarray,
        dls: np.ndarray,
        ttfs: np.ndarray | None = None,
        tls: np.ndarray | None = None,
    ) -> np.ndarray:
        if self._mode == "legacy":
            # reference A3 contribution = raw rank (tf); the kernel
            # finishes with sum/max
            return tfs.astype(np.float64)
        if self._mode == "bm25f":
            # x = w_b·(tf/norm_b) + w_t·(ttf/norm_t), weights OUTSIDE
            # the division (fielded.field_norm_tf documents why);
            # title term first to mirror the relational iteration
            # order (IEEE + is commutative for two addends — parity
            # holds either way, kept aligned for readability)
            wb, wt = self._fw
            x = wt * _field_norm_np(
                ttfs, tls, self._avgtl, FIELD_B_TITLE
            ) + wb * _field_norm_np(tfs, dls, self._avgdl, FIELD_B_BODY)
            sc = self._saturate(x)
        else:
            sc = bm25_scores_np(
                tfs, dls, self.df, self._n_docs, self._avgdl
            )
        if self._boost != 1.0:
            sc = sc * self._boost
        return sc

    # --- lazy plumbing -----------------------------------------------------

    def _slice(self, buf: bytes, offs: np.ndarray, b: int) -> bytes:
        end = offs[b + 1] if b + 1 < len(offs) else len(buf)
        return buf[offs[b] : end]

    def _decode_block(self, b: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, scores) of block b (cached)."""
        hit = self._cache.get(b)
        if hit is not None:
            return hit
        t = self._table
        ranks = decode_ranks(
            self._slice(self._bids, self._oids, b), t,
            after=self.block_last[b - 1] if b > 0 else None,
        )
        ids = t.ids[ranks]
        tfs = vb.varbyte_decode(
            self._slice(self._btfs, self._otfs, b)
        ).astype(np.int64)
        dls = t.doclens[ranks]
        if self._mode == "bm25f":
            ttfs = vb.varbyte_decode(
                self._slice(self._bttf, self._ottf, b)
            ).astype(np.int64)
            tls = t.tlens[ranks]
        else:
            ttfs = tls = None
        out = (ids, self._score(tfs, dls, ttfs, tls))
        self._cache[b] = out
        self.n_decoded += 1
        return out

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        """Full (ids, scores) — used for the rarest (driving) list."""
        if self._full is None:
            if self.n == 0:
                self._full = (np.empty(0, np.int64), np.empty(0))
            else:
                blocks = [
                    self._decode_block(b) for b in range(len(self.block_last))
                ]
                self._full = (
                    np.concatenate([x[0] for x in blocks]),
                    np.concatenate([x[1] for x in blocks]),
                )
        return self._full

    def block_ids(self, b: int) -> np.ndarray:
        if self._full is not None:
            return self._full[0][b * BLOCK : (b + 1) * BLOCK]
        return self._decode_block(b)[0]

    def block_scores(self, b: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, scores) of one block — decodes only that block."""
        if self._full is not None:
            s = slice(b * BLOCK, (b + 1) * BLOCK)
            return self._full[0][s], self._full[1][s]
        return self._decode_block(b)

    def lookup(self, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(scores, present_mask) for sorted candidate ids — decodes
        only the blocks candidates fall in."""
        m = len(cand)
        sc = np.zeros(m, dtype=np.float64)
        present = np.zeros(m, dtype=bool)
        if self.n == 0 or m == 0:
            return sc, present
        if self._full is not None:
            ids, scores = self._full
            pos = np.searchsorted(ids, cand)
            pos_c = np.minimum(pos, len(ids) - 1)
            ok = (pos < len(ids)) & (ids[pos_c] == cand)
            sc[ok] = scores[pos_c[ok]]
            return sc, ok
        blk = np.searchsorted(self.block_last, cand, side="left")
        valid = blk < len(self.block_last)
        for b in np.unique(blk[valid]):
            sel = np.flatnonzero(valid & (blk == b))
            ids_b, sc_b = self._decode_block(int(b))
            pos = np.searchsorted(ids_b, cand[sel])
            pos_c = np.minimum(pos, len(ids_b) - 1)
            ok = (pos < len(ids_b)) & (ids_b[pos_c] == cand[sel])
            hit = sel[ok]
            sc[hit] = sc_b[pos_c[ok]]
            present[hit] = True
        return sc, present


def _intersect_sorted(cand: np.ndarray, allowed: np.ndarray) -> np.ndarray:
    """cand ∩ allowed for two sorted int64 arrays (keeps cand order)."""
    if len(cand) == 0 or len(allowed) == 0:
        return cand[:0]
    pos = np.searchsorted(allowed, cand)
    pos_c = np.minimum(pos, len(allowed) - 1)
    ok = (pos < len(allowed)) & (allowed[pos_c] == cand)
    return cand[ok]


def _member_mask(ids: np.ndarray, members: np.ndarray) -> np.ndarray:
    """Boolean mask: which of `ids` appear in sorted unique `members`."""
    if len(members) == 0 or len(ids) == 0:
        return np.zeros(len(ids), dtype=bool)
    pos = np.searchsorted(members, ids)
    pos_c = np.minimum(pos, len(members) - 1)
    return (pos < len(members)) & (members[pos_c] == ids)


def _setdiff_sorted(cand: np.ndarray, excluded: np.ndarray) -> np.ndarray:
    """cand \\ excluded for sorted int64 arrays (keeps cand order)."""
    if len(cand) == 0 or len(excluded) == 0:
        return cand
    return cand[~_member_mask(cand, excluded)]


# shared by every kernel — read-only, since driver-run kernels of
# concurrent requests share this module's state
_NO_IDS = np.empty(0, dtype=np.int64)
_NO_IDS.setflags(write=False)


def _filter(
    cand: np.ndarray, allowed: np.ndarray | None,
    excluded: np.ndarray | None,
) -> np.ndarray:
    """cand ∩ allowed \\ excluded (site filter, tombstone deny-list);
    either side may be None."""
    if allowed is not None:
        cand = _intersect_sorted(cand, allowed)
    if excluded is not None:
        cand = _setdiff_sorted(cand, excluded)
    return cand


SEED_BLOCKS = 4  # max blocks decoded to seed θ (bounded seed cost)


def _site_of(ids: np.ndarray, map_ids: np.ndarray,
             map_sites: np.ndarray) -> np.ndarray:
    """site_id per doc id via the shard's sorted doc→site map. Docs
    absent from the map (shouldn't happen — the map derives from the
    serving meta — but deterministic anyway) fall back to their own
    doc_id: a singleton site that can never be collapsed away."""
    out = ids.copy()
    if len(map_ids) and len(ids):
        pos = np.searchsorted(map_ids, ids)
        pos_c = np.minimum(pos, len(map_ids) - 1)
        hit = (pos < len(map_ids)) & (map_ids[pos_c] == ids)
        out[hit] = map_sites[pos_c[hit]]
    return out


def _site_cap_mask(
    sites: np.ndarray, n: int,
    consumed: tuple[np.ndarray, np.ndarray] | None = None,
) -> np.ndarray:
    """Boolean keep-mask implementing a per-site cap of `n` over rows
    ALREADY in rank order: row i is kept iff fewer than n earlier rows
    share its site. Vectorized occurrence-index computation (stable
    sort by site preserves the rank order within each site group).

    `consumed` = (site_ids sorted unique, counts): per-site rows
    already SERVED by earlier cursor pages (collapse-aware
    search_after) — row i's effective cap becomes n - consumed(site_i)
    (0 when saturated), so the post-cursor walk continues the same
    stateful collapse the full ranking defines."""
    m = len(sites)
    if m == 0:
        return np.zeros(0, dtype=bool)
    by_site = np.argsort(sites, kind="stable")
    s = sites[by_site]
    starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
    occ = np.arange(m) - np.repeat(starts, np.diff(np.r_[starts, m]))
    if consumed is None:
        cap = n
    else:
        c_ids, c_counts = consumed
        used = np.zeros(m, dtype=np.int64)
        if len(c_ids):
            pos = np.searchsorted(c_ids, s)
            pos_c = np.minimum(pos, len(c_ids) - 1)
            hit = (pos < len(c_ids)) & (c_ids[pos_c] == s)
            used[hit] = c_counts[pos_c[hit]]
        cap = np.maximum(n - used, 0)
    keep = np.empty(m, dtype=bool)
    keep[by_site] = occ < cap
    return keep


def _theta_seed(
    shortest: _TermList, k: int, allowed: np.ndarray | None = None,
    excluded: np.ndarray | None = None,
    collapse: tuple[int, np.ndarray, np.ndarray] | None = None,
) -> float:
    """k-th best exact score among the ≤SEED_BLOCKS highest-upper-bound
    blocks of the shortest list — a valid lower bound on the final
    k-th best total. Soundness: any k TRUE single-term scores of
    servable docs bound the final k-th best total from below (each of
    those docs' totals ≥ its single-term score); restricting to a
    SUBSET of the list only weakens θ, never unsoundly inflates it.

    Boundedness: the previous seed decoded the ENTIRE shortest list
    exactly — at web scale that decode IS the bulk of a rare∧common
    query's decompression work. Decoding only the blocks with the
    highest block-max (where the top scores concentrate) costs
    ≤ SEED_BLOCKS·BLOCK postings regardless of list length and seeds
    nearly as tight in practice (tests/test_wand_metrics.py pins that
    pruning still fires; the hypothesis suites pin rank-identity).

    With a doc filter (site allow-list or tombstone deny-list), only
    SERVABLE docs may seed θ: a filtered-out doc's score is NOT a
    lower bound on any final result, and an inflated θ would unsoundly
    prune.

    With `collapse` = (n, map_ids, map_sites) — per-site result
    diversification — the seed must be collapse-aware: the sample is
    per-site capped at n (ranked by single-term score) BEFORE the k-th
    selection. Soundness: suppose the capped sample's k-th best
    single-term score θ exceeded total(d) for some doc d in the
    post-collapse top-k (by totals). The sample then holds k docs,
    ≤ n per site, each with TOTAL ≥ its single-term score ≥ θ >
    total(d); for every site s contributing c_s of them, s's true
    top-c_s survivors (c_s ≤ n) all have totals > total(d) — so ≥ Σc_s
    = k collapse-surviving docs outrank d, contradicting d ∈ top-k.
    An uncapped sample would NOT be sound: k same-site docs can seed a
    θ above every other site's best, pruning docs the collapsed
    result must contain."""
    if k <= 0:
        return 0.0
    if allowed is None and excluded is None and shortest.n <= k:
        return 0.0  # avoid the decode when the seed is provably 0
    nb = len(shortest.block_last)
    if nb == 0:
        return 0.0
    pool_ids, pool_scores = [], []
    for b in np.argsort(-shortest.block_max)[:SEED_BLOCKS]:
        ids, scores = shortest.block_scores(int(b))
        if allowed is not None:
            ok = _member_mask(ids, allowed)
            ids, scores = ids[ok], scores[ok]
        if excluded is not None and len(ids):
            keep = ~_member_mask(ids, excluded)
            ids, scores = ids[keep], scores[keep]
        pool_ids.append(ids)
        pool_scores.append(scores)
    scores = np.concatenate(pool_scores) if pool_scores else np.empty(0)
    if collapse is not None and len(scores):
        n_cap, map_ids, map_sites = collapse
        ids = np.concatenate(pool_ids)
        order = np.lexsort((ids, -scores))
        sites = _site_of(ids[order], map_ids, map_sites)
        scores = scores[order][_site_cap_mask(sites, n_cap)]
    if len(scores) <= k:
        return 0.0
    return float(np.partition(scores, -k)[-k])


def _after_mask(
    scores: np.ndarray, ids: np.ndarray, after: tuple[float, int]
) -> np.ndarray:
    """Keep-mask for cursor pagination: rows strictly AFTER the cursor
    (score, doc_id) in the total order (score desc, doc_id asc)."""
    cs, cd = after
    return (scores < cs) | ((scores == cs) & (ids > cd))


def _theta_seed_after(
    lists: list["_TermList"], shortest: "_TermList", k: int,
    after: tuple[float, int], allowed: np.ndarray | None,
    excluded: np.ndarray | None,
    collapse: tuple[int, np.ndarray, np.ndarray] | None = None,
    consumed: tuple[np.ndarray, np.ndarray] | None = None,
) -> float:
    """θ-seed for CURSOR pages: the plain seed is unsound here — a
    sample doc's single-term score lower-bounds its TOTAL, but a high
    total may sit BEFORE the cursor (already served), telling us
    nothing about the after-cursor top-k. So this seed computes EXACT
    totals for the bounded sample (≤ SEED_BLOCKS·BLOCK ids from the
    shortest list's best blocks; lookups decode only touched blocks of
    the other lists), filters to after-cursor rows, and returns their
    k-th best total. Soundness: any doc with total < θ is outranked by
    ≥ k after-cursor docs (strict score inequality — doc_id ties
    irrelevant), so it cannot reach the after-cursor top-k; a weaker
    (subset) sample only lowers θ.

    With `collapse` (+ optional `consumed` budgets from earlier
    pages), the sample is additionally per-site capped at the
    REMAINING budget r_s = n - consumed(s) before the k-th selection
    — the collapse-aware seed's argument lifted to exact totals: if
    θ > total(d) for a doc d in the post-cursor COLLAPSED top-k, the
    capped sample holds k after-cursor docs, ≤ r_s per site, each
    with total ≥ θ > total(d); every contributing site's true
    post-cursor top-r_s survivors then all outrank d, so ≥ k
    collapse-kept post-cursor docs precede d — contradiction. An
    uncapped sample is unsound for the same reason as in
    _theta_seed."""
    if k <= 0:
        return 0.0
    nb = len(shortest.block_last)
    if nb == 0:
        return 0.0
    pool = [
        shortest.block_ids(int(b))
        for b in np.argsort(-shortest.block_max)[:SEED_BLOCKS]
    ]
    ids = np.unique(np.concatenate(pool)) if pool else _NO_IDS
    ids = _filter(ids, allowed, excluded)
    if len(ids) == 0:
        return 0.0
    totals = np.zeros(len(ids), dtype=np.float64)
    for t in lists:
        sc, _ = t.lookup(ids)
        totals += sc
    keep = _after_mask(totals, ids, after)
    totals, ids = totals[keep], ids[keep]
    if collapse is not None and len(totals):
        n_cap, map_ids, map_sites = collapse
        order = np.lexsort((ids, -totals))
        sites = _site_of(ids[order], map_ids, map_sites)
        totals = totals[order][_site_cap_mask(sites, n_cap, consumed)]
    if len(totals) <= k:
        return 0.0
    return float(np.partition(totals, -k)[-k])


def _sparse_max_table(vals: np.ndarray) -> list[np.ndarray]:
    """Sparse table for O(1) range-max queries: level l holds the max
    over every length-2^l window, so table[l][i] = max(vals[i:i+2^l]).
    Build is O(n log n) vectorized numpy; queried by _range_max."""
    tables = [vals]
    w = 1
    while 2 * w <= len(vals):
        prev = tables[-1]
        tables.append(np.maximum(prev[: len(prev) - w], prev[w:]))
        w *= 2
    return tables


def _range_max(
    tables: list[np.ndarray], a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Vectorized inclusive range max: out[i] = max(vals[a[i]..b[i]]),
    requires a <= b elementwise. Each query is the max of two
    overlapping power-of-two windows covering [a, b] — the classic
    sparse-table lookup, grouped by level so the gather is one numpy
    op per distinct level (≤ log2(n) groups).

    This replaces a per-block Python loop of slice-max calls: with nb
    blocks per list and ranges spanning r blocks each, the loop costs
    O(nb·r) — quadratic when companion lists are long (exactly the
    rare∧common shape block-max pruning exists for). The table makes
    the whole bound computation O(nb log nb) regardless of overlap."""
    w = b - a + 1
    # floor(log2(w)) without float-precision edge cases: frexp returns
    # e with w = m·2^e, m ∈ [0.5, 1) — so e-1 is exact for w < 2^53
    lvl = np.frexp(w.astype(np.float64))[1] - 1
    out = np.empty(len(a), dtype=np.float64)
    for l in np.unique(lvl):
        m = lvl == l
        tab = tables[int(l)]
        span = 1 << int(l)
        out[m] = np.maximum(tab[a[m]], tab[b[m] - span + 1])
    return out


def _disjunctive_candidates(
    lists: list["_TermList"], theta: float
) -> np.ndarray:
    """Sorted unique docIDs that could still reach θ in a disjunctive
    (OR) query — the block-selection heart of batch-style block-max
    WAND. Two classic cuts compose (both public-literature standards:
    essential lists from Broder et al. 2003 "Efficient query
    evaluation using a two-level retrieval process"; aligned per-block
    bounds from Ding & Suel 2011 "Faster top-k document retrieval
    using block-max indexes"):

    1. ESSENTIAL-LIST CUT — sort lists by global max ascending; the
       largest prefix whose Σ gmax < θ is non-essential: a doc
       appearing ONLY there has total ≤ that Σ < θ. Candidates need
       only come from the remaining (essential) lists' blocks;
       non-essential lists are probe-only (exact lookup later).
    2. ALIGNED BLOCK-MAX — a block b of essential term t is kept iff
         t.bmax[b] + Σ_{u≠t} rangemax_u(span(b)) ≥ θ
       where span(b) is b's docID interval and rangemax_u is the max
       of u's block maxima over u-blocks OVERLAPPING that interval
       (computed from the block_last fences — no decode). This is
       strictly tighter than the global Σ gmax bound: a companion
       term's high-scoring region only inflates the bound for blocks
       that actually share its docID range.

    Soundness: for a true top-k doc d (total(d) ≥ θ), take t* =
    argmax_u score_u(d) and b* = t*'s block holding d. Every u with
    d ∈ u has its d-holding block overlapping span(b*), so
    rangemax_u(span(b*)) ≥ score_u(d); terms without d contribute
    ≥ 0. Hence bound(t*, b*) ≥ total(d) ≥ θ — some block holding d
    always survives, and survivors are scored EXACTLY afterwards
    (lookup decodes their true postings), so pruned ≡ exhaustive
    rank/score-identically (tests/test_segments_wand.py hypothesis
    suites)."""
    live = [t for t in lists if t.n > 0]
    if not live:
        return np.empty(0, np.int64)
    if theta <= 0.0:  # nothing prunable — every posting is a candidate
        return np.unique(
            np.concatenate([t.decode_all()[0] for t in live])
        )
    live.sort(key=lambda t: t.gmax)
    acc = 0.0
    split = 0
    for i, t in enumerate(live):
        if acc + t.gmax < theta:
            acc += t.gmax
            split = i + 1
        else:
            break
    essential = live[split:]
    # one sparse range-max table per companion list, shared across all
    # essential lists it bounds (built from block_max only — no decode)
    tables: dict[int, list[np.ndarray]] = {}
    survivors: list[np.ndarray] = []
    for t in essential:
        nb = len(t.block_last)
        if nb == 0:
            continue
        lo = np.empty(nb, dtype=np.int64)
        lo[0] = np.iinfo(np.int64).min  # block 0's floor is unrecorded
        lo[1:] = t.block_last[:-1] + 1
        hi = t.block_last
        bound = t.block_max.copy()
        for u in live:
            if u is t:
                continue
            j_lo = np.searchsorted(u.block_last, lo, side="left")
            j_hi = np.minimum(
                np.searchsorted(u.block_last, hi, side="left"),
                len(u.block_last) - 1,
            )
            tab = tables.get(id(u))
            if tab is None:
                tab = tables[id(u)] = _sparse_max_table(u.block_max)
            overlap = j_lo <= j_hi
            if overlap.any():
                bound[overlap] += _range_max(
                    tab, j_lo[overlap], j_hi[overlap]
                )
        for b in np.flatnonzero(bound >= theta):
            survivors.append(t.block_ids(int(b)))
    if not survivors:
        return np.empty(0, np.int64)
    return np.unique(np.concatenate(survivors))


def _conjunction(
    lists: list[_TermList], allowed: np.ndarray | None,
    excluded: np.ndarray | None,
) -> tuple[np.ndarray, int]:
    """Rarest-first intersection cascade (R1, reference
    ApiService.java:205-220): drive with the shortest list (fully
    decoded), probe the rest lazily; the filters are the cheapest
    predicates and apply first. Sorts `lists` in place (callers score
    in that order) → (matches, driving candidates after the filters)."""
    lists.sort(key=lambda t: t.n)
    cand = _filter(lists[0].decode_all()[0], allowed, excluded)
    n_cand = len(cand)
    for t in lists[1:]:
        if len(cand) == 0:
            break
        cand = cand[t.lookup(cand)[1]]
    return cand, n_cand


def _select(
    cand: np.ndarray, scores: np.ndarray, n_hit: np.ndarray, k: int,
    collapse: tuple[int, np.ndarray, np.ndarray] | None = None,
    consumed: tuple[np.ndarray, np.ndarray] | None = None,
) -> dict:
    """Shard-local cut → the hit columns of the kernel output.

    Plain: top-k by (score desc, doc_id asc). O(n) selection of the
    k-th score keeps ALL ties at the boundary, then resolves them by
    the global total order — dropping an arbitrary tied doc here would
    break rank-identity after the cross-shard merge.

    Collapse (per-site diversification): rank all scored candidates,
    keep at most n per site, cut to k·n rows, and return each row's
    site_id so the driver merge can re-apply the cap without a lookup.
    Why k·n rows is enough for an EXACT global collapse: take doc d in
    the global post-collapse top-k. (a) d survives the shard-local cap
    — the same-site docs above d in this shard are a subset of those
    above it globally (< n). (b) d sits within the shard's first k·n
    post-cap rows: every site with any doc above d (here or anywhere —
    scores are global) has its global best above d too, and a site's
    best always survives collapse, so < k sites have docs above d;
    shard-capped at n each, < (k-1)·n capped rows precede d. The
    driver merge then re-ranks ≤ shards·k·n rows and re-applies the
    cap globally — exact, with per-task and driver memory both
    bounded (k·n, not corpus- or site-sized).

    `consumed` (collapse-aware search_after): per-site caps become the
    REMAINING budgets n - consumed(s) ≤ n. The k·n cut stays exact
    under the same argument — every site contributing rows above d
    still contributes ≤ its remaining cap ≤ n of them, and a site with
    remaining budget ≥ 1 still has its post-cursor best survive."""
    if collapse is None:
        n = len(cand)
        if n > k:
            keep = (
                scores >= np.partition(scores, n - k)[n - k] if k
                else np.zeros(n, dtype=bool)
            )
            cand, scores, n_hit = cand[keep], scores[keep], n_hit[keep]
            order = np.lexsort((cand, -scores))[:k]
            cand, scores, n_hit = cand[order], scores[order], n_hit[order]
        sites = np.zeros(len(cand), dtype=np.int64)
    else:
        n_cap, map_ids, map_sites = collapse
        order = np.lexsort((cand, -scores))
        cand, scores, n_hit = cand[order], scores[order], n_hit[order]
        sites = _site_of(cand, map_ids, map_sites)
        sel = np.flatnonzero(_site_cap_mask(sites, n_cap, consumed))
        sel = sel[: k * n_cap]
        cand, scores, n_hit, sites = (
            cand[sel], scores[sel], n_hit[sel], sites[sel]
        )
    return {
        "doc_id": cand.astype(np.int64),
        "score": scores.astype(np.float64),
        "n_hit": n_hit.astype(np.int32),
        "site_id": sites.astype(np.int64),
    }


def with_trailer(hits: dict, trailer: dict) -> pd.DataFrame:
    """Hit columns (equal-length arrays) + ONE trailer row → a kernel's
    applyInPandas output (module docstring: the trailer contract). Hit
    rows carry zeros in the trailer columns, the trailer zeros in the
    hit columns."""
    m = len(hits["doc_id"])
    cols = {c: np.append(v, np.zeros(1, v.dtype)) for c, v in hits.items()}
    cols["is_trailer"] = np.arange(m + 1) == m
    for c, v in trailer.items():
        col = np.zeros(m + 1, np.float64 if isinstance(v, float) else np.int64)
        col[m] = v
        cols[c] = col
    return pd.DataFrame(cols)


def _trailer(
    lists: list[_TermList], n_matched: int = 0, n_candidates: int = 0,
    n_scored: int = 0, theta: float = 0.0,
) -> dict:
    """The shard's trailer counters (module docstring)."""
    return {
        "n_matched": n_matched,
        "n_postings": sum(t.n for t in lists),
        "n_blocks": sum(len(t.block_last) for t in lists),
        "n_blocks_decoded": sum(t.n_decoded for t in lists),
        "n_candidates": n_candidates,
        "n_scored": n_scored,
        "theta": float(theta),
    }


def wand_shard(
    pdf: pd.DataFrame, tables: dict[int, DocTable], n_docs: int,
    avgdl: float, k: int, conjunctive: bool,
    n_terms: int, mode: str = "bm25", allowed: np.ndarray | None = None,
    excluded: np.ndarray | None = None,
    collapse: tuple[int, np.ndarray, np.ndarray] | None = None,
    boosts: dict | None = None,
    after: tuple[float, int] | None = None,
    fweights: tuple[float, float] | None = None,
    consumed: tuple[np.ndarray, np.ndarray] | None = None,
    count: bool = False,
) -> pd.DataFrame:
    """THE shard kernel: one shard's segments (all query terms) and its
    doc tables by run → its top-k hit rows plus one trailer row
    (KERNEL_SCHEMA).

    `count`: the driver needs the shard's pre-top-k match count in the
    trailer (the reference response carries the ranked page AND the
    total, ApiService.java:104-146). Without it, multi-term
    conjunctions run the intersection cascade and everything else
    (disjunctions, single-term bm25 — AND ≡ OR there) runs the
    θ-seeded block-max-pruned path. With it, a multi-term disjunction
    needs the full posting union, so pruning buys nothing and the
    union is scored exhaustively; only a SINGLE live list keeps the
    pruned top-k, its count being the list length adjusted by filter
    lookups (no full decode). Either way pruning is sound (never drops
    a true top-k doc), so both routes rank identically. The count is
    taken before the cursor filter (every page reports the same total)
    and stays UNCOLLAPSED (the "about N results" number — an exact
    post-collapse count would need per-site counts from every shard,
    an unbounded result set by design).

    `after` = (score, doc_id): cursor pagination (search_after) — only
    rows strictly after the cursor in the total order (score desc,
    doc_id asc) are returned; θ is seeded by _theta_seed_after (exact
    sample totals, after-filtered — the single-term-score seed is
    unsound under a cursor, see there). WITH collapse, a cursor also
    needs `consumed` — the per-site counts of rows already served by
    earlier pages ((sorted site_ids, counts) arrays); caps become the
    remaining budgets and the θ-seed caps its sample the same way.

    mode="legacy" scores sum(tf)/max(tf) (reference A3) — block-max
    pruning is disabled there (the block annotations bound BM25, not
    tf ratios); candidates are scored exhaustively.

    `collapse` = (n, map_ids, map_sites): per-site result
    diversification (host collapsing — at most n results per site).
    map_ids/map_sites are THIS shard's doc→site_id map (sorted by doc
    id), cogrouped in by doc-space shard like the site filter's member
    list. Hit rows become the post-cap top-(k·n) with site ids
    (_select) and θ is seeded collapse-aware (_theta_seed).

    `allowed` (sorted unique int64, or None): this shard's members of
    the site being searched (reference site filter,
    ApiService.java:88-98). Candidates are intersected with it BEFORE
    scoring; corpus statistics stay global.

    `excluded` (sorted unique int64, or None): tombstoned docs whose
    postings still sit in the packed segments until the next
    compaction (reference analog: IndexingService.java:152, served
    without a rebuild). Subtracted from candidates before scoring; θ
    may only be seeded by servable docs (see _theta_seed)."""
    if after is not None and collapse is not None and consumed is None:
        raise ValueError(
            "search_after with collapse needs `consumed` — the "
            "per-site served counts of earlier pages (an exact "
            "collapsed cursor is stateful)"
        )
    lists = [] if allowed is not None and len(allowed) == 0 else [
        _TermList(rows, tables, n_docs, avgdl, mode,
                  boost=boosts.get(t, 1.0) if boosts else 1.0,
                  fweights=fweights)
        for t, rows in pdf.groupby("term", sort=False)
    ]
    live = [t for t in lists if t.n > 0]
    prunable = mode in PRUNABLE_MODES
    if count:
        single = prunable and len(live) == 1 and (
            not conjunctive or len(lists) == 1
        )
        scored, seed = live, single
    else:
        single = prunable and len(lists) == 1
        scored, seed = lists, prunable
    cand, n_cand, n_matched, theta = _NO_IDS, 0, 0, 0.0
    if not lists or (conjunctive and len(lists) < n_terms):
        # a query term has no postings in this shard ⇒ no doc here can
        # match all terms (shards partition the doc space)
        scored = []
    elif conjunctive and not single:
        cand, n_cand = _conjunction(lists, allowed, excluded)
        scored, n_matched = lists, len(cand)
    else:
        # essential-list cut + aligned block-max pruning
        # (_disjunctive_candidates) below θ, then exact scoring
        if seed:
            shortest = min(scored, key=lambda t: t.n)
            theta = (
                _theta_seed(shortest,
                            k if collapse is None else k * collapse[0],
                            allowed, excluded, collapse)
                if after is None else
                _theta_seed_after(scored, shortest, k, after, allowed,
                                  excluded, collapse, consumed)
            )
        cand = _filter(
            _disjunctive_candidates(scored, theta), allowed, excluded
        )
        n_cand = len(cand)
        if count and single:  # the list length, adjusted by filters
            t = live[0]
            if allowed is not None:
                n_matched = int(
                    t.lookup(_filter(allowed, None, excluded))[1].sum()
                )
            elif excluded is not None:
                n_matched = t.n - int(t.lookup(excluded)[1].sum())
            else:
                n_matched = t.n
        else:  # counting: θ = 0, so cand is the whole filtered union
            n_matched = n_cand
    scores = np.zeros(len(cand), dtype=np.float64)
    maxs = np.zeros(len(cand), dtype=np.float64)
    n_hit = np.zeros(len(cand), dtype=np.int64)
    for t in scored:
        sc, present = t.lookup(cand)
        scores += sc
        np.maximum(maxs, sc, out=maxs)
        n_hit += present
    if mode == "legacy":  # sum(rank)/max(rank), A3
        scores = np.divide(scores, maxs, out=np.zeros_like(scores),
                           where=maxs > 0)
    n_scored = len(cand)
    if after is not None:
        keep = _after_mask(scores, cand, after)
        cand, scores, n_hit = cand[keep], scores[keep], n_hit[keep]
    return with_trailer(
        _select(cand, scores, n_hit, k, collapse, consumed),
        _trailer(lists, n_matched if count else 0, n_cand, n_scored, theta),
    )


def _resolve_terms(
    term_stats, n_docs: int, lemmas: list[str], max_rel_freq: float,
    df_map: dict | None,
) -> list[str]:
    """F4 pruning + absent-term drop — shared by every packed entry
    point (reference ApiService.java:121-126,222-236: lemmas not found
    in the dictionary simply vanish from the query)."""
    if not lemmas:
        return []
    if df_map is not None:
        stats = {t: df_map[t] for t in lemmas if t in df_map}
    else:
        stats = {
            r["term"]: r["df"]
            for r in term_stats.filter(F.col("term").isin(lemmas)).collect()
        }
    return [
        t for t in lemmas
        if t in stats and stats[t] / float(n_docs) <= max_rel_freq
    ]


def _site_members(doc_stats, site: str, n_shards: int):
    """The site's member docs keyed to the segments' doc-space hash
    shards (reference site filter, ApiService.java:88-98)."""
    return doc_stats.filter(F.col("site") == site).select(
        "doc_id",
        F.pmod(F.hash("doc_id"), F.lit(n_shards)).cast("int")
        .alias("shard"),
    )


def site_map_frame(doc_stats, n_shards: int):
    """(shard, doc_id, site_id) — the doc→site map keyed to the
    segments' doc-space hash shards, the cogroup side of the collapse
    (host-diversification) and facet kernels. site_id =
    xxhash64(site): the kernel only needs site EQUALITY, not the
    string, so a 64-bit hash keeps the shuffled map at 16 bytes/doc
    (collision odds at 10^12 docs ≈ 10^-5 per Birthday bound — two
    sites colliding would merely over-collapse one result page;
    acceptable for diversification, never for filtering).

    Scale note: this frame is INDEX STATE, not per-query data — a warm
    server (service.search collapse path) builds it once per index
    generation, repartitions it by shard and persists it, so each
    query's cogroup reuses the cached partitioning instead of
    re-shuffling |corpus| rows."""
    return doc_stats.select(
        F.pmod(F.hash("doc_id"), F.lit(n_shards)).cast("int")
        .alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.xxhash64("site").alias("site_id"),
    )


# --- the sharded driver -----------------------------------------------------


def _shard_frame(
    segments: Packed, terms: list[str], kernel, schema: str,
    mode: str = "bm25", side: DataFrame | None = None,
) -> DataFrame:
    """The distributed packed-read plan: term-pruned segment scan →
    cogroup with ONE per-shard side frame (segments.side_frame: the
    tree's doc tables, plus the read's own side — site members, the
    doc→site map, or the served docs) → ONE applyInPandas kernel call
    per shard, `kernel(seg_pdf, tables, side_pdf)` with side_pdf=None
    without a side. A shard with doc tables only (no segment rows, no
    side rows) makes no call, as on the driver. The corpus never
    moves; only the side frame's rows shuffle. _shard_rows' Spark
    executor, and the lazy plan of the reads whose output is not
    bounded by k (module docstring)."""
    seg = term_pruned_segments(segments.rows, terms, mode)
    has_side = side is not None

    def run(seg_pdf: pd.DataFrame, side_pdf: pd.DataFrame) -> pd.DataFrame:
        tables, own = split_side(side_pdf, has_side)
        if not len(seg_pdf) and (own is None or not len(own)):
            return pd.DataFrame()
        return kernel(seg_pdf, tables, own)

    return (
        seg.groupby("shard")
        .cogroup(side_frame(segments.docs_frame(), side).groupby("shard"))
        .applyInPandas(run, schema=schema)
    )


def _shard_rows(
    segments: Packed, terms: list[str], kernel, schema: str,
    mode: str = "bm25", side: DataFrame | None = None,
    sizes: ReadSizes | None = None, positional: bool = False,
) -> tuple[list, str, int | None]:
    """_shard_frame for a caller that collects its kernel rows →
    (rows, executor, the input bound the rule compared — None without
    one). Both executors run the same scan and the same kernel with the
    same cogroup semantics:

      "spark"   _shard_frame(...).collect() — one applyInPandas task
                per shard in the Python workers.
      "driver"  the term-pruned scan and the side frame each collected
                with one Arrow toPandas() (a JVM-only job, no Python
                worker), the doc tables from segments.tables() (a
                server collects them once per index state), then
                `kernel` called in-process per shard: every shard with
                segment rows or side rows, as the cogroup does; a shard
                without side rows gets an EMPTY side frame (None means
                "no side").

    The driver runs the read when the bound on the bytes the kernels
    would receive — `sizes`' (segments.ReadSizes.input_bytes) over
    `terms`, the `positional` layout, the tree's table rows and the
    side — is ≤ segments.DRIVER_READ_BYTES_MAX; without `sizes` or a
    known table size, or above it, Spark does. A Python worker task's
    fixed cost (125-200 ms per 1-row task with a reused worker, against
    2-5 ms for the same JVM collect, on a 4-core host at local[2])
    dwarfs a small read's decode and score; a large read keeps its
    rows off the driver and its shards' decode in parallel tasks."""
    nbytes = None if sizes is None or segments.table_rows is None else (
        sizes.input_bytes(terms, positional, side is not None,
                          segments.table_rows)
    )
    if nbytes is None or nbytes > DRIVER_READ_BYTES_MAX:
        plan = _shard_frame(segments, terms, kernel, schema, mode, side)
        return plan.collect(), "spark", nbytes
    seg = term_pruned_segments(segments.rows, terms, mode).toPandas()
    tables = segments.tables()
    segs = {s: g.reset_index(drop=True) for s, g in seg.groupby("shard")}
    if side is None:
        outs = [kernel(g, tables.get(s, {}), None) for s, g in segs.items()]
    else:
        side_pdf = side.toPandas()
        sides = {
            s: g.reset_index(drop=True) for s, g in side_pdf.groupby("shard")
        }
        outs = [
            kernel(segs.get(s, seg.iloc[:0]), tables.get(s, {}),
                   sides.get(s, side_pdf.iloc[:0]))
            for s in sorted(segs.keys() | sides.keys())
        ]
    return [r for out in outs for r in out.to_dict("records")], "driver", nbytes


def _n_shards(segments: Packed, n_shards: int | None) -> int:
    """The manifest's n_shards when given, else inferred from the
    UNFILTERED segment rows (max shard id + 1 — exact whenever every
    shard holds ≥1 segment, i.e. any non-toy corpus)."""
    if n_shards is not None:
        return n_shards
    return int(segments.rows.agg(F.max("shard")).collect()[0][0]) + 1


def _site_side(segments, site, doc_stats, n_shards):
    """Cogroup side of a site-filtered read (None without `site`)."""
    if site is None:
        return None
    if doc_stats is None:
        raise ValueError(
            "site filter on the packed path needs doc_stats (doc_id, site)"
        )
    return _site_members(doc_stats, site, _n_shards(segments, n_shards))


def _deny_list(excluded_doc_ids) -> np.ndarray | None:
    if not excluded_doc_ids:
        return None
    return np.unique(np.asarray(excluded_doc_ids, dtype=np.int64))


def _allowed_of(side_pdf: pd.DataFrame | None) -> np.ndarray | None:
    if side_pdf is None:
        return None
    return np.sort(side_pdf["doc_id"].to_numpy(dtype=np.int64, copy=True))


def _site_map_of(side_pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    ids = side_pdf["doc_id"].to_numpy(dtype=np.int64, copy=True)
    sids = side_pdf["site_id"].to_numpy(dtype=np.int64, copy=True)
    order = np.argsort(ids)
    return ids[order], sids[order]


def _wand_kernel(
    segments: Packed, terms: list[str], n_docs: int, avgdl: float,
    k: int, conjunctive: bool, mode: str = "bm25",
    site: str | None = None, doc_stats: DataFrame | None = None,
    n_shards: int | None = None, excluded_doc_ids=None,
    collapse_n: int | None = None, site_map: DataFrame | None = None,
    boosts: dict | None = None, after: tuple[float, int] | None = None,
    fweights: tuple[float, float] | None = None,
    consumed: tuple[np.ndarray, np.ndarray] | None = None,
    count: bool = False,
):
    """(kernel, side) of the per-shard wand_shard read for resolved
    `terms` — every WAND read (ranked page, count, cursor, collapse,
    explain, prefix) runs this kernel through _wand_rows."""
    exc = _deny_list(excluded_doc_ids)
    n_terms = len(terms)
    if collapse_n is not None:
        side = site_map if site_map is not None else site_map_frame(
            doc_stats, _n_shards(segments, n_shards)
        )
    else:
        side = _site_side(segments, site, doc_stats, n_shards)

    def kernel(seg_pdf: pd.DataFrame, tables: dict,
               side_pdf: pd.DataFrame | None):
        filters = (
            {"allowed": _allowed_of(side_pdf)} if collapse_n is None
            else {"collapse": (collapse_n, *_site_map_of(side_pdf))}
        )
        return wand_shard(
            seg_pdf, tables, n_docs, avgdl, k, conjunctive, n_terms, mode,
            excluded=exc, boosts=boosts, after=after, fweights=fweights,
            consumed=consumed, count=count, **filters,
        )

    return kernel, side


def _wand_rows(
    segments: Packed, terms: list[str], sizes: ReadSizes | None,
    n_docs: int, avgdl: float, k: int, conjunctive: bool,
    mode: str = "bm25", **kw,
) -> tuple[list, str, int | None]:
    """Per-shard wand_shard output rows (_wand_kernel's keywords) →
    (rows, executor, the input bound the executor rule compared — None
    without `sizes`)."""
    kernel, side = _wand_kernel(
        segments, terms, n_docs, avgdl, k, conjunctive, mode, **kw
    )
    return _shard_rows(
        segments, terms, kernel, KERNEL_SCHEMA, mode, side, sizes
    )


def _merge(
    rows, k: int, offset: int = 0, n_terms: int | None = None,
    collapse_n: int | None = None, consumed: dict | None = None,
) -> tuple[list, int]:
    """Driver-side merge of the shards' kernel rows → (the [offset,
    offset+k) page of hit rows ranked (score desc, doc_id asc), Σ
    trailer n_matched). `n_terms` keeps only rows matching all terms
    (conjunctive). `collapse_n` re-applies the per-site cap over the
    merged order; `consumed` (site_id → rows served by earlier pages)
    seeds the per-site counters so caps continue the stateful cursor
    walk. Input is ≤ shards·(offset+k)[·n] rows by kernel
    construction — bounded however large the corpus."""
    hits = [
        r for r in rows
        if not r["is_trailer"] and (n_terms is None or r["n_hit"] == n_terms)
    ]
    count = sum(r["n_matched"] for r in rows if r["is_trailer"])
    hits.sort(key=lambda r: (-r["score"], r["doc_id"]))
    if collapse_n is not None:
        per_site = dict(consumed or {})
        kept = []
        for r in hits:
            c = per_site.get(r["site_id"], 0)
            if c < collapse_n:
                per_site[r["site_id"]] = c + 1
                kept.append(r)
                if len(kept) >= offset + k:
                    break
        hits = kept
    return hits[offset:offset + k], int(count)


def _check_page_args(k: int, offset: int, mode: str, boosts) -> None:
    from ..operators.search import MAX_OFFSET

    if k < 0 or offset < 0:
        raise ValueError(
            f"k and offset must be >= 0 (got k={k}, offset={offset})"
        )
    if offset > MAX_OFFSET:
        raise ValueError(f"offset {offset} > MAX_OFFSET {MAX_OFFSET}")
    if boosts and (
        mode not in PRUNABLE_MODES
        or any(w <= 0 for w in boosts.values())
    ):
        raise ValueError(
            f"boosts need bm25/bm25f mode and weights > 0 "
            f"(mode={mode}, {boosts})"
        )


def search_packed_fused(
    spark,
    segments: Packed,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    k: int = 20,
    conjunctive: bool = True,
    max_rel_freq: float = 0.95,
    df_map: dict | None = None,
    mode: str = "bm25",
    site: str | None = None,
    offset: int = 0,
    doc_stats: DataFrame | None = None,
    n_shards: int | None = None,
    excluded_doc_ids: list[int] | None = None,
    lemmas: list[str] | None = None,
    collapse_n: int | None = None,
    site_map: DataFrame | None = None,
    boosts: dict | None = None,
    field_weights: dict | None = None,
    after: tuple[float, int] | None = None,
    after_sites: dict | None = None,
    return_sites: bool = False,
    sizes: ReadSizes | None = None,
    _count: bool = True,
) -> tuple[list[tuple[int, float]], int]:
    """ONE kernel pass per shard serving BOTH the ranked page and the
    pre-pagination match count → ([(doc_id, score)] already
    offset-sliced and globally ranked, n_matched). This is the warm
    server's hot path (service.search).

    `lemmas`: pre-analyzed query lemmas — skips `lemmatize_query`
    (callers whose terms are machine-selected lemmas already, e.g.
    more-like-this, must not re-lemmatize them); F4 df-pruning via
    `_resolve_terms` still applies.

    `collapse_n`: per-site result diversification ("host collapsing" —
    at most n results per site, the omitted-similar-results semantics).
    The doc→site map (`site_map`, a site_map_frame; built from
    `doc_stats` when omitted) cogroups into the kernel by doc-space
    shard; each shard returns its post-cap top-((offset+k)·n) rows
    with site ids and the driver merge re-applies the cap globally —
    exact (see _select) with both per-task and driver memory bounded
    by k·n. Mutually exclusive with `site`: a single-site query
    diversified per site is a plain LIMIT n, and search engines
    disable host collapsing under site: scoping — pass one or the
    other. The match count stays UNCOLLAPSED.

    `after` (+ `after_sites`, the per-site served counts of earlier
    pages, when collapsed): cursor pagination in the same pass; the
    count stays cursor-independent. `return_sites` (collapse only)
    adds each hit's site_id. `_count=False` (the service's cached
    cursor count) skips the count and returns None for it. `sizes`
    (segments.ReadSizes, the warm server's) bounds the read's kernel
    input for the executor rule.

    Plan shape: _wand_rows — the term-pruned segment scan (plus the
    site members or the doc→site map) and one wand_shard call per
    shard, run on the driver when the input bound from `sizes` is ≤
    segments.DRIVER_READ_BYTES_MAX (one JVM-only Spark job per
    collected frame, no Python worker), else — also without `sizes` —
    as the applyInPandas plan (_shard_frame); then _merge of
    ≤ n_shards·(offset+k+1) rows (·collapse_n under collapse), ranked
    (score desc, doc_id asc)."""
    _check_page_args(k, offset, mode, boosts)
    if collapse_n is not None:
        if collapse_n < 1:
            raise ValueError(f"collapse_n must be >= 1 (got {collapse_n})")
        if site is not None:
            raise ValueError(
                "site filter and collapse are mutually exclusive "
                "(a single-site query collapsed per site is LIMIT n)"
            )
        if site_map is None and doc_stats is None:
            raise ValueError(
                "collapse needs site_map (site_map_frame) or doc_stats"
            )
    if after is not None and offset:
        raise ValueError("search_after replaces offset")
    if after is not None and collapse_n is not None and after_sites is None:
        raise ValueError(
            "search_after with collapse needs after_sites (the per-site "
            "served counts of earlier pages — pass {} for a page-1 "
            "cursor replay)"
        )
    if after_sites is not None and (after is None or collapse_n is None):
        raise ValueError("after_sites needs after and collapse_n")
    if return_sites and collapse_n is None:
        raise ValueError("return_sites needs collapse_n")
    fweights = _resolve_fweights(mode, field_weights)
    if lemmas is None:
        lemmas = lemmatize_query(query)
    terms = _resolve_terms(term_stats, n_docs, lemmas, max_rel_freq, df_map)
    if not terms:
        return [], (0 if _count else None)
    consumed = None
    if after_sites is not None:
        keys = sorted(after_sites)
        consumed = (
            np.array(keys, dtype=np.int64),
            np.array([int(after_sites[s]) for s in keys], dtype=np.int64),
        )
    rows, _, _ = _wand_rows(
        segments, terms, sizes, n_docs, avgdl, offset + k, conjunctive, mode,
        site=site, doc_stats=doc_stats, n_shards=n_shards,
        excluded_doc_ids=excluded_doc_ids, collapse_n=collapse_n,
        site_map=site_map, boosts=boosts, after=after, fweights=fweights,
        consumed=consumed, count=_count,
    )
    hits, count = _merge(
        rows, k, offset, len(terms) if conjunctive else None, collapse_n,
        after_sites,
    )
    if return_sites:
        page = [(r["doc_id"], r["score"], r["site_id"]) for r in hits]
    else:
        page = [(r["doc_id"], r["score"]) for r in hits]
    return page, (count if _count else None)


def search_packed(
    spark,
    segments: Packed,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    query: str,
    k: int = 20,
    conjunctive: bool = True,
    max_rel_freq: float = 0.95,
    df_map: dict | None = None,
    mode: str = "bm25",
    site: str | None = None,
    offset: int = 0,
    doc_stats: DataFrame | None = None,
    n_shards: int | None = None,
    excluded_doc_ids: list[int] | None = None,
    collapse_n: int | None = None,
    site_map: DataFrame | None = None,
    boosts: dict | None = None,
    after: tuple[float, int] | None = None,
    field_weights: dict | None = None,
) -> DataFrame:
    """Top-k over the packed index → DataFrame(doc_id, score).

    `after` = (score, doc_id) of the last row of the previous page:
    CURSOR pagination (the Elasticsearch search_after shape) — returns
    the top-k rows strictly after the cursor in the total order (score
    desc, doc_id asc). Unlike `offset` (bounded by MAX_OFFSET because
    it materializes offset+k rows), a cursor walks arbitrarily deep at
    constant per-page cost: each shard's kernel filters scored
    candidates by the cursor and still returns ≤ k rows, with θ seeded
    from exact after-filtered sample totals (_theta_seed_after).
    Cursors are PATH-LOCAL: scores are reproduced bit-identically by
    the same engine path, but packed vs relational floats may differ
    in the last ulp — don't feed one path's cursor to the other.
    Mutually exclusive with `offset` and `collapse_n`.

    `collapse_n` (+ `site_map`/`doc_stats`): per-site result
    diversification — at most collapse_n results per site (see
    search_packed_fused for semantics and the exactness argument).

    Plan shape: a DataFrame view over the one ranked packed read,
    search_packed_fused(..., _count=False) — the term-pruned segment
    scan and one wand_shard call per shard (the applyInPandas plan:
    this entry takes no `sizes`), then the driver merge of
    ≤ n_shards·(offset+k) rows; the ranked page comes back as a small
    local frame, in rank order.

    `df_map` (term → df): pass a pre-collected dictionary to skip the
    per-query term_stats lookup job — a query server collects it once
    (or holds the broadcast) and serves every query from it.

    `site` (reference ApiService.java:88-98): doc-level filter served
    WITHOUT leaving the packed path — the site's member docs, keyed to
    the same doc-space hash shards as the segments, cogroup into the
    WAND kernel, which intersects candidates against the shard's
    (|site|/n_shards)-sized slice. One extra shuffle of the site's doc
    list only; the corpus itself never moves, and per-task memory stays
    bounded however large the site is. Requires `doc_stats` (doc_id,
    site) and the index's `n_shards` (recorded in the build manifest;
    inferred from the segment frame when omitted).

    `offset` (reference SearchResponse.java:42-50): pagination — each
    shard returns its top (offset+k), the driver merge keeps
    (offset+k), and the offset rows are sliced driver-side, same bounded semantics
    as the relational path (operators.search.MAX_OFFSET).

    `excluded_doc_ids`: small deny-list of doc ids whose postings must
    not be served — docs tombstoned since the last compaction (a warm
    server's delete path, reference IndexingService.java:152). Shipped
    to every kernel in the task closure (it is the set of
    NOT-yet-compacted deletes, bounded by the compaction cadence, not
    by corpus size — a corpus-sized filter belongs in `site`/members
    form instead).
    """
    if after is not None and (offset or collapse_n is not None):
        raise ValueError(
            "search_after replaces offset and cannot combine with collapse"
        )
    hits, _ = search_packed_fused(
        spark, segments, term_stats, n_docs, avgdl, query, k=k,
        conjunctive=conjunctive, max_rel_freq=max_rel_freq, df_map=df_map,
        mode=mode, site=site, offset=offset, doc_stats=doc_stats,
        n_shards=n_shards, excluded_doc_ids=excluded_doc_ids,
        collapse_n=collapse_n, site_map=site_map, boosts=boosts,
        field_weights=field_weights, after=after, _count=False,
    )
    return _page_frame(spark, hits)


def _page_frame(spark, hits: list[tuple[int, float]]) -> DataFrame:
    """A merged, ranked [(doc_id, score)] page → DataFrame(doc_id,
    score) in the same order: the result of the lazy ranked APIs
    (search_packed, bool_search_packed, prefix_search_packed)."""
    from ..operators.search import empty_df

    if not hits:
        return empty_df(spark, "doc_id long, score double")
    return spark.createDataFrame(hits, "doc_id long, score double")


def match_count_packed(
    spark,
    segments: Packed,
    term_stats: DataFrame,
    n_docs: int,
    query: str,
    conjunctive: bool = True,
    site: str | None = None,
    max_rel_freq: float = 0.95,
    df_map: dict | None = None,
    doc_stats: DataFrame | None = None,
    n_shards: int | None = None,
    excluded_doc_ids: list[int] | None = None,
    sizes: ReadSizes | None = None,
) -> int:
    """A5 on the packed path (reference ApiService.java:104-113): the
    total match count before pagination — the trailers' n_matched of
    one counting pass with an empty page (k=0). `excluded_doc_ids`:
    tombstoned-but-not-compacted docs, dropped from the count (same
    deny-list as search_packed); `sizes` as in search_packed_fused."""
    # avgdl only shapes scores, and a k=0 page ranks nothing
    return search_packed_fused(
        spark, segments, term_stats, n_docs, 1.0, query, k=0,
        conjunctive=conjunctive, max_rel_freq=max_rel_freq, df_map=df_map,
        site=site, doc_stats=doc_stats, n_shards=n_shards,
        excluded_doc_ids=excluded_doc_ids, sizes=sizes,
    )[1]


def facet_counts_packed(
    spark,
    segments: Packed,
    term_stats: DataFrame,
    doc_stats: DataFrame,
    n_docs: int,
    query: str,
    conjunctive: bool = True,
    top: int = 10,
    max_rel_freq: float = 0.95,
    df_map: dict | None = None,
    n_shards: int | None = None,
    excluded_doc_ids: list[int] | None = None,
    site_map: DataFrame | None = None,
    site_dim: DataFrame | None = None,
) -> DataFrame:
    """Per-site facet counts of the match set — the "N results from
    site X" sidebar every web search serves next to the ranked list →
    DataFrame(site string, n long) ordered (n desc, site asc),
    limited to `top`.

    Distributed shape (the part that must survive 100 TB): each
    shard's kernel computes its own match set (ids only — the same
    intersection cascade / posting union the WAND kernel counts, no
    scoring, no sort) and reduces it to (site_id, partial count) rows
    via the cogrouped doc→site map — at most sites-per-shard rows
    leave a task, never doc ids. A tiny groupBy(site_id) shuffle sums
    the partials (map-side combine applies), the site dimension joins
    the names back, and TakeOrderedAndProject keeps the top facets.
    The corpus itself never moves.

    `site_map` / `site_dim`: pass the warm server's cached frames
    (site_map_frame + its distinct (site_id, site) dim) to skip the
    per-query derivation; both derive from `doc_stats` when omitted.
    `excluded_doc_ids`: tombstone deny-list, same as search_packed."""
    from ..operators.search import empty_df

    terms = _resolve_terms(
        term_stats, n_docs, lemmatize_query(query), max_rel_freq, df_map
    )
    if not terms:
        return empty_df(spark, "site string, n long")
    n_terms = len(terms)
    if site_map is None:
        site_map = site_map_frame(doc_stats, _n_shards(segments, n_shards))
    if site_dim is None:
        site_dim = doc_stats.select(
            F.xxhash64("site").alias("site_id"), "site"
        ).distinct()
    exc = _deny_list(excluded_doc_ids)

    def kernel(pdf: pd.DataFrame, tables: dict,
               map_pdf: pd.DataFrame) -> pd.DataFrame:
        lists = [
            _TermList(rows, tables, n_docs, 1.0)
            for _, rows in pdf.groupby("term", sort=False)
        ]
        if not lists or (conjunctive and len(lists) < n_terms):
            cand = _NO_IDS
        elif conjunctive:
            cand = _conjunction(lists, None, exc)[0]
        else:
            cand = _filter(_disjunctive_candidates(lists, 0.0), None, exc)
        uniq, counts = np.unique(
            _site_of(cand, *_site_map_of(map_pdf)), return_counts=True
        )
        return pd.DataFrame(
            {"site_id": uniq.astype(np.int64), "n": counts.astype(np.int64)}
        )

    return (
        _shard_frame(segments, terms, kernel, "site_id long, n long",
                     side=site_map)
        .groupBy("site_id")
        .agg(F.sum("n").alias("n"))
        .join(site_dim, "site_id")
        .select("site", "n")
        .orderBy(F.desc("n"), F.asc("site"))
        .limit(top)
    )
