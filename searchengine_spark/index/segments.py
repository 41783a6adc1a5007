"""Packed index build: postings → compressed, block-max segments.

The north rule's "salted-hash-partitioned (term-sharded, skew-aware
for stopword-heavy terms) posting-list construction": the unit of
storage is the (term, shard) segment, where

    shard = pmod(hash(doc_id), n_shards)

is a single GLOBAL doc-space hash partitioning. This is simultaneously
the salt for skew (a 98%-DF term's posting list splits evenly across
all shards — no single applyInPandas group ever exceeds ~corpus/
n_shards postings) and the alignment that makes query-time conjunctive
intersection shard-local (every doc lives in exactly one shard for
every term).

Per segment we store docIDs delta-gap + varbyte compressed, tfs and
doclens varbyte compressed, and per-block (128 postings) metadata:
last docID (skip pointer) and the exact max float64 BM25 score
(WAND upper bound — computed from the true per-posting scores, so it
can never underestimate).

Sizing at 10^12 docs: n_shards chosen so corpus/n_shards ≈ 64k docs
per shard → the hottest (term, shard) group decodes to ≤64k postings,
bounded executor memory regardless of term skew. Written partitioned
by shard bucket with term-sorted row groups → parquet min/max stats
prune query scans to the touched terms.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.postings import IndexTables
from ..operators.search import bm25_score_py
from ..schemas import INDEX_SEGMENTS_SCHEMA
from . import varbyte as vb

BLOCK = 128
DEFAULT_DOCS_PER_SHARD = 65536

# --- sizing a query kernel's input -------------------------------------------
# Upper bounds on the Arrow bytes (values, the 4-byte per-row offsets of
# variable-width columns, validity bits) that the rows a query kernel
# receives hold, per posting, position and row of the packed layouts.
# ReadSizes.input_bytes applies them.

# a varbyte value (a uint64) takes at most ceil(64/7) bytes
VARBYTE_MAX_BYTES = 10
# a TF posting (INDEX_SEGMENTS_SCHEMA): its five varbyte streams (doc
# id gap, tf, doclen, title tf, title length) at their widest, plus the
# metadata of a whole block (a posting may open one): last doc id, max
# score and the two field maxima at 8 bytes, five stream offsets at 4,
# and those nine values' validity bits
SEGMENT_POSTING_BYTES_MAX = 5 * VARBYTE_MAX_BYTES + 4 * 8 + 5 * 4 + 2
# a positional posting (index/positional.POSITIONAL_SEGMENTS_SCHEMA):
# doc id gap and count at their widest, plus a whole block's last doc
# id and position offset and their validity bits
POS_POSTING_BYTES_MAX = 2 * VARBYTE_MAX_BYTES + 2 * 8 + 1
# a position: one varbyte gap
POS_POSITION_BYTES_MAX = VARBYTE_MAX_BYTES
# a segment row besides its term's UTF-8 bytes: the fixed-width columns
# (shard, run_id, n_docs at 4; df, avgtl at 8), one offset for each of
# the 15 variable-width columns and a validity bit per column. A
# positional row's columns are a subset. Every row holds ≥ 1 posting,
# so charging this to each posting bounds the rows.
ROW_BYTES_MAX = 3 * 4 + 2 * 8 + 15 * 4 + 3
# a side-frame row: a site member (shard int, doc_id long) or a
# doc→site map row (plus site_id long), and its validity bits
SIDE_ROW_BYTES_MAX = 4 + 8 + 8 + 1
# The largest input bound a collected read runs its kernels for on the
# driver (index/wand._shard_rows); a larger read keeps the
# applyInPandas plan. scripts/executor_crossover.py, 4-core host,
# local[2], 4 shards, a disjunctive top-20 + count read over webtext
# indexes of 2k-120k docs (bounds 0.4-155 MB), two runs: driver
# 70-135 ms up to a 12 MB bound, where the applyInPandas plan takes
# 270-440 ms; at 63 MB 408/459 ms against 525/809 ms; at 113 MB
# 556/782 ms against 765/800 ms — even in one run. The cutoff is the
# largest bound the driver won clearly in both runs.
DRIVER_READ_BYTES_MAX = 64 << 20


@dataclass
class ReadSizes:
    """Per-term sizes of a served index, from which a collected read's
    kernel input is bounded without a Spark job (index/wand._shard_rows).

    postings / positions: term → its postings / positions over EVERY
    run, base and delta. (The F4 pruning dictionary is not enough: a
    delta page of a known term adds postings without raising its df.)
    side_rows: rows of the doc frame a site-member or doc→site side
    frame is drawn from."""

    postings: dict
    positions: dict
    side_rows: int = 0

    def input_bytes(
        self, terms, positional: bool = False, side: bool = False
    ) -> int:
        """Upper bound on the bytes the kernels of a read over `terms`
        receive: its segment rows — the TF layout, or with `positional`
        the positional one — plus, with `side`, the side frame."""
        n = SIDE_ROW_BYTES_MAX * self.side_rows if side else 0
        for t in set(terms):
            p = self.postings.get(t, 0)
            n += p * (ROW_BYTES_MAX + len(t.encode()))
            if positional:
                n += (p * POS_POSTING_BYTES_MAX
                      + self.positions.get(t, 0) * POS_POSITION_BYTES_MAX)
            else:
                n += p * SEGMENT_POSTING_BYTES_MAX
        return n

    def add_posting(self, term: str, tf: int) -> None:
        """A delta page's posting of `term`, with `tf` positions."""
        self.postings[term] = self.postings.get(term, 0) + 1
        self.positions[term] = self.positions.get(term, 0) + tf


def n_shards_for(
    n_docs: int,
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    min_parallelism: int = 1,
) -> int:
    """Shard count = max(corpus/docs_per_shard, cluster parallelism).
    The first term bounds per-group memory at huge N; the second keeps
    the pack kernel, the segment write, and the per-shard WAND query
    kernel parallel even when the corpus is smaller than
    cores × docs_per_shard (otherwise a small build collapses to ONE
    task and scaling dies)."""
    return max(1, -(-n_docs // docs_per_shard), min_parallelism)


def bm25_scores_np(
    tfs: np.ndarray, doclens: np.ndarray, df: int, n_docs: int, avgdl: float,
    k1: float = 1.2, b: float = 0.75,
) -> np.ndarray:
    """Vectorized BM25 per-posting scores — float64, same arithmetic as
    operators.search.bm25_score_py (kept in lockstep)."""
    idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    tf = tfs.astype(np.float64)
    norm = tf + k1 * (1.0 - b + b * doclens.astype(np.float64) / avgdl)
    return idf * tf * (1.0 + k1) / norm


def _field_norm_np(tfs: np.ndarray, lens: np.ndarray, avg: float,
                   b: float) -> np.ndarray:
    """tf / (1 - b + b·len/avg): one field's normalized tf, weight-free
    (query-time weights multiply OUTSIDE — operators/fielded
    .field_norm_tf documents why that keeps w·max sound bitwise).
    avg == 0 (a corpus with no titles at all) degenerates to
    tf / (1 - b): every len is 0 there, so the b·len/avg term is 0."""
    t = tfs.astype(np.float64)
    if avg > 0.0:
        return t / (1.0 - b + b * lens.astype(np.float64) / avg)
    return t / (1.0 - b)


def _pack_arrays(
    term, shard: int, doc_ids, tfs, doclens, ttfs, tlens, df_term: int,
    n_docs: int, avgdl: float, run_id: int, avgtl: float,
) -> dict:
    """One (term, shard) group as RAW numpy arrays → one packed segment
    row as a plain dict — the pandas-free TF kernel every TF packer
    shares (pack_segments_frame's and merge_runs' bodies, the reference
    _pack_group). A per-group pandas round-trip costs ~1 ms regardless
    of group size; at a web-corpus dictionary (10^7+ (term, shard)
    groups) that fixed overhead IS the pack time, so the pack driver
    (_pack_walk) batches thousands of these dicts into each Arrow
    frame instead."""
    from ..operators.fielded import FIELD_B_BODY, FIELD_B_TITLE

    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order].astype(np.int64)
    tfs = tfs[order].astype(np.int64)
    doclens = doclens[order].astype(np.int64)
    ttfs = ttfs[order].astype(np.int64)
    tlens = tlens[order].astype(np.int64)
    scores = bm25_scores_np(tfs, doclens, df_term, n_docs, avgdl)
    bnorm = _field_norm_np(tfs, doclens, avgdl, FIELD_B_BODY)
    tnorm = _field_norm_np(ttfs, tlens, avgtl, FIELD_B_TITLE)
    n = len(doc_ids)
    n_blocks = -(-n // BLOCK)
    starts = np.arange(n_blocks, dtype=np.int64) * BLOCK
    # block stats vectorized: reduceat segments exactly at block
    # starts (the trailing partial block is reduceat's natural tail),
    # fancy-index for each block's last docID — the per-block Python
    # loops this replaces were ~25× slower and ran 4× per group
    block_last = doc_ids[np.minimum(starts + BLOCK, n) - 1].tolist()
    block_max = np.maximum.reduceat(scores, starts).tolist() if n else []
    block_bn = np.maximum.reduceat(bnorm, starts).tolist() if n else []
    block_tn = np.maximum.reduceat(tnorm, starts).tolist() if n else []

    # per-block byte offsets into each varbyte stream (lazy decode);
    # lengths computed once per stream and reused by the encoder
    u = vb.to_u64(doc_ids)
    gaps = np.empty_like(u)
    if n:
        gaps[0] = u[0]
        gaps[1:] = u[1:] - u[:-1]
    enc = {}
    offs = {}
    for key, vals in (
        ("ids", gaps), ("tfs", tfs.astype(np.uint64)),
        ("dls", doclens.astype(np.uint64)),
        ("ttf", ttfs.astype(np.uint64)), ("tls", tlens.astype(np.uint64)),
    ):
        lens = vb.varbyte_lengths(vals)
        cum = np.concatenate(([0], np.cumsum(lens)))
        offs[key] = cum[starts].tolist()
        enc[key] = vb.varbyte_encode(vals, nbytes=lens)

    return {
        "term": term,
        "shard": int(shard),
        "run_id": run_id,
        "n_docs": n,
        "df": df_term,
        "doc_ids": enc["ids"],
        "tfs": enc["tfs"],
        "doclens": enc["dls"],
        "block_last_doc": block_last,
        "block_max_score": block_max,
        "block_off_ids": offs["ids"],
        "block_off_tfs": offs["tfs"],
        "block_off_dls": offs["dls"],
        "tfs_title": enc["ttf"],
        "title_lens": enc["tls"],
        "block_off_ttf": offs["ttf"],
        "block_off_tls": offs["tls"],
        "block_max_bnorm": block_bn,
        "block_max_tnorm": block_tn,
        "avgtl": float(avgtl),
    }


def _pack_group(pdf: pd.DataFrame, n_docs: int, avgdl: float, run_id: int,
                avgtl: float = 0.0) -> pd.DataFrame:
    """One (term, shard) group of (doc_id, tf, doclen, df[, ttf, tlen])
    → one packed segment row as a one-row frame: the reference packer
    the kernel tests build segments with and compare the bulk pack
    (pack_segments_frame) against. ttf/tlen (title-field tf and title
    length, absent → zeros) feed the per-field TF layer that serves
    BM25F."""
    n = len(pdf)
    if "ttf" in pdf.columns:
        ttfs = pdf["ttf"].to_numpy()
        tlens = pdf["tlen"].to_numpy()
    else:
        ttfs = np.zeros(n, dtype=np.int64)
        tlens = np.zeros(n, dtype=np.int64)
    row = _pack_arrays(
        pdf["term"].iloc[0], int(pdf["shard"].iloc[0]),
        pdf["doc_id"].to_numpy(), pdf["tf"].to_numpy(),
        pdf["doclen"].to_numpy(), ttfs, tlens,
        int(pdf["df"].iloc[0]), n_docs, avgdl, run_id, avgtl,
    )
    return pd.DataFrame([row])


def _pack_walk(frame: DataFrame, order: str, body, schema) -> DataFrame:
    """The one pack driver of both packed layouts: `frame`'s rows,
    grouped by (term, shard) and ordered by `order` within a group →
    one `body(group)` row dict per group, as a frame of `schema`.
    `group` maps each column of `frame` to the group's numpy slice.

    groupBy(term, shard).applyInPandas pays a fixed ~1 ms pandas/Arrow
    round-trip PER GROUP — negligible for a small dictionary, but the
    dominant cost at a realistic one (measured 69 s for a 20k-word
    Zipf corpus at 10k docs: ~50k groups of fixed overhead). Here the
    same co-location is achieved with ONE hash repartition on
    (term, shard) + an in-partition sort, and a mapInPandas pass walks
    each sorted partition, slicing group boundaries with numpy and
    emitting plain dicts — the per-group cost drops to the body.

    Correctness of the stitching: a (term, shard) group never spans
    partitions (hash partitioning on exactly that key), but CAN span
    consecutive Arrow batches of one partition — the walker carries
    the trailing (possibly incomplete) group of every batch forward
    as a LIST of chunks and concatenates once, when the group closes
    (or at iterator end), so row copies stay O(partition rows) however
    many batches one group spans; boundaries come from one vectorized
    change-point scan per batch."""

    def run(batches):
        # chunks of the currently-open trailing group (term/shard of
        # every row in every chunk is identical); concatenated exactly
        # once, when the group closes
        carry: list[dict] = []

        def flush_carry() -> dict:
            nonlocal carry
            whole = carry[0] if len(carry) == 1 else {
                c: np.concatenate([ch[c] for ch in carry]) for c in carry[0]
            }
            carry = []
            return body(whole)

        for pdf in batches:
            if not len(pdf):
                continue
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            terms, shards = cols["term"], cols["shard"]
            change = np.flatnonzero(
                (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
            ) + 1
            rows = []
            if carry and (
                terms[0] != carry[0]["term"][0]
                or shards[0] != carry[0]["shard"][0]
            ):
                # batch opens a NEW group — the carried one is complete
                rows.append(flush_carry())
            head = 0
            if carry:
                if change.size == 0:
                    # whole batch continues the open group
                    carry.append(cols)
                    if rows:
                        yield pd.DataFrame(rows)
                    continue
                # open group closes at the first boundary
                head = int(change[0])
                carry.append({c: v[:head] for c, v in cols.items()})
                rows.append(flush_carry())
            # complete groups fully inside this batch; the trailing
            # (possibly incomplete) one becomes the new carry
            starts = np.concatenate(([head], change[change > head]))
            for a, b in zip(starts[:-1].tolist(), starts[1:].tolist()):
                rows.append(body({c: v[a:b] for c, v in cols.items()}))
            last = int(starts[-1])
            carry.append({c: v[last:] for c, v in cols.items()})
            if rows:
                yield pd.DataFrame(rows)
        if carry:
            yield pd.DataFrame([flush_carry()])

    # in-partition sort groups rows; the partitioner guarantees group
    # locality. The sort is the same work applyInPandas' group shuffle
    # did implicitly — no extra pass.
    return (
        frame.repartition("term", "shard")
        .sortWithinPartitions("term", "shard", order)
        .mapInPandas(run, schema=schema)
    )


def pack_segments_frame(
    enriched: DataFrame,
    n_docs: int,
    avgdl: float,
    run_id: int,
    avgtl: float,
) -> DataFrame:
    """Bulk pack: (term, shard, doc_id, tf, doclen, df, ttf, tlen) →
    packed segment rows, through the one pack driver (_pack_walk) with
    _pack_arrays as the per-group body.

    doc_id is the in-group order, so the body's stable argsort sees
    presorted input (its merge fast path: ~85 µs vs ~7 ms on 75k random
    int64) — the Tungsten sort adds the key for near-free.

    Shuffle width: the two field-layer ints ride PACKED into the body
    ints (tfx = tf·2³¹ + ttf, dlx = doclen·2³¹ + tlen — exact while
    tf/doclen < 2³¹ and 0 ≤ ttf ≤ tf, 0 ≤ tlen ≤ doclen, which the
    extraction invariant guarantees: title text ⊆ body text), so the
    exchange and the Arrow hop into Python carry the SAME six columns
    the field-free r4 layout did; the body splits with two shifts."""
    low = (np.int64(1) << np.int64(31)) - 1

    def body(g: dict) -> dict:
        tfx, dlx = g["tfx"], g["dlx"]
        return _pack_arrays(
            g["term"][0], int(g["shard"][0]), g["doc_id"], tfx >> 31,
            dlx >> 31, tfx & low, dlx & low, int(g["df"][0]), n_docs,
            avgdl, run_id, avgtl,
        )

    lim = F.lit(1 << 31).cast("long")
    has_field = "ttf" in enriched.columns
    ttf_col = (
        F.coalesce(F.col("ttf"), F.lit(0)).cast("long")
        if has_field else F.lit(0).cast("long")
    )
    tlen_col = (
        F.coalesce(F.col("tlen"), F.lit(0)).cast("long")
        if has_field else F.lit(0).cast("long")
    )
    packed_in = enriched.select(
        "term", "shard", "doc_id", "df",
        (F.col("tf").cast("long") * lim + ttf_col).alias("tfx"),
        (F.col("doclen").cast("long") * lim + tlen_col).alias("dlx"),
    )
    return _pack_walk(packed_in, "doc_id", body, INDEX_SEGMENTS_SCHEMA)


def title_field_side(doc_meta: DataFrame) -> DataFrame:
    """(doc_id, title) → (doc_id, tmap map<term,tf>, tlen): the
    title-field term counts, analyzed with the SAME analyzer as the
    index body (term_counts_udf — lemmatize + stop-filter), as a
    per-doc MAP. The map rides ONE doc_id join into the postings
    frame and is projected away (element_at) before the expensive
    (term, shard) pack shuffle — no (doc_id, term) join of the
    corpus-sized postings frame is ever needed (titles are a handful
    of terms per doc)."""
    from ..functions.udfs import term_counts_udf

    tc = term_counts_udf(F.coalesce(F.col("title"), F.lit("")))
    return doc_meta.select("doc_id", tc.alias("tc")).select(
        "doc_id",
        F.map_from_arrays("tc.terms", "tc.tfs").alias("tmap"),
        F.aggregate("tc.tfs", F.lit(0), lambda a, x: a + x)
        .cast("long").alias("tlen"),
    )


def _title_side_from_pairs(
    title_tf: DataFrame, title_len: DataFrame
) -> DataFrame:
    """Adapter: explicit (doc_id, term, ttf) + (doc_id, tlen) frames →
    the (doc_id, tmap, tlen) shape build_segments joins. For corpora
    whose title field is defined by the CALLER's analyzer (e.g. the
    whitespace-tokenized contract tables) instead of the HTML
    pipeline's lemmatizer."""
    maps = title_tf.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", F.col("ttf").cast("int")))
        ).alias("tmap")
    )
    return title_len.select("doc_id", F.col("tlen").cast("long")).join(
        maps, "doc_id", "left"
    )


def _with_title_cols(enriched: DataFrame, title_side: DataFrame | None):
    """Left-join the per-doc title map and extract this posting row's
    title tf natively (element_at) — zeros when the corpus has no
    title data."""
    if title_side is None:
        return enriched.withColumn(
            "ttf", F.lit(0)
        ).withColumn("tlen", F.lit(0).cast("long"))
    return (
        enriched.join(title_side, "doc_id", "left")
        .withColumn(
            "ttf",
            F.coalesce(F.element_at(F.col("tmap"), F.col("term")), F.lit(0)),
        )
        .withColumn("tlen", F.coalesce(F.col("tlen"), F.lit(0).cast("long")))
        .drop("tmap")
    )


def _avgtl_of(title_side: DataFrame | None, n_docs: int) -> float:
    """Corpus avg title length = Σ tlen / n_docs — docs without a
    title count as length 0 (they are real documents of the corpus;
    the packed convention, mirrored by every oracle twin)."""
    if title_side is None or n_docs == 0:
        return 0.0
    s = title_side.agg(F.sum("tlen").alias("s")).collect()[0]["s"]
    return float(s or 0) / n_docs


def build_segments(
    index: IndexTables,
    n_docs: int,
    avgdl: float,
    n_shards: int | None = None,
    run_id: int = 0,
    title_tf: DataFrame | None = None,
    title_len: DataFrame | None = None,
    avgtl: float | None = None,
) -> DataFrame:
    """postings + stats → packed index_segments DataFrame: the enrich
    step (enrich_postings) + the bulk pack (pack_segments_frame).

    The per-field TF layer (BM25F serving) is derived from
    doc_stats.title by default (same analyzer as the body), or from
    explicit (title_tf, title_len) frames. `avgtl` (corpus avg title
    length) is computed here with one small aggregation when not
    passed — at production scale pass it precomputed alongside
    n_docs/avgdl so this stays a pure transform."""
    if n_shards is None:
        par = index.postings.sparkSession.sparkContext.defaultParallelism
        n_shards = n_shards_for(n_docs, min_parallelism=par)
    enriched, avgtl = enrich_postings(
        index, n_docs, n_shards, title_tf, title_len, avgtl
    )
    return pack_segments_frame(enriched, n_docs, avgdl, run_id, avgtl)


def enrich_postings(
    index: IndexTables,
    n_docs: int,
    n_shards: int,
    title_tf: DataFrame | None = None,
    title_len: DataFrame | None = None,
    avgtl: float | None = None,
) -> tuple[DataFrame, float]:
    """The pack's input: postings → (term, shard, doc_id, tf, doclen,
    df, ttf, tlen) rows for pack_segments_frame, plus the corpus avg
    title length. Shared by build_segments and the resumable
    per-group build (index/manifest.py), which packs it one shard
    group at a time."""
    # In-row fast path: a materialize_index-built index already carries
    # the field layer (postings.ttf from the single extraction pass,
    # doc_stats.tlen from the doclen aggregation) — the title data then
    # rides the doc_id join the body stats take anyway. No second title
    # analysis, no tmap join: at 2.4M docs the title_field_side path
    # cost two extra full-corpus passes inside the pack stage.
    in_row = (
        title_tf is None
        and "ttf" in index.postings.columns
        and "tlen" in index.doc_stats.columns
    )
    if title_tf is not None:
        if title_len is None:
            raise ValueError("title_tf needs title_len")
        title_side = _title_side_from_pairs(title_tf, title_len)
    elif in_row or "title" not in index.doc_stats.columns:
        title_side = None
    else:
        title_side = title_field_side(
            index.doc_stats.select("doc_id", "title")
        )
    if avgtl is None:
        if in_row:
            s = index.doc_stats.agg(F.sum("tlen").alias("s")).collect()[0]["s"]
            avgtl = float(s or 0) / n_docs if n_docs else 0.0
        else:
            avgtl = _avgtl_of(title_side, n_docs)
    # Fastest path: postings that carry their doc lengths IN-ROW
    # (explode_term_counts emits doclen/tlen per posting — known
    # before the explode) need NO doc-side join at all; the only
    # remaining join is the tiny term_stats df lookup. The doc_stats
    # join below is a sort-merge of the FULL posting stream on doc_id
    # — a second corpus-scale shuffle inside the pack stage — kept
    # only for indexes whose postings predate the in-row layout.
    lengths_in_row = "doclen" in index.postings.columns and (
        not in_row or "tlen" in index.postings.columns
    )
    if lengths_in_row:
        enriched = index.postings.join(
            index.term_stats.select("term", "df"), "term"
        )
    else:
        doc_cols = ["doc_id", "doclen"] + (["tlen"] if in_row else [])
        enriched = (
            index.postings
            .join(index.doc_stats.select(*doc_cols), "doc_id")
            .join(index.term_stats.select("term", "df"), "term")
        )
    if not in_row:
        enriched = _with_title_cols(enriched, title_side)
    enriched = enriched.withColumn(
        "shard", F.pmod(F.hash("doc_id"), F.lit(n_shards)).cast("int")
    )
    return enriched, avgtl


def write_segments(segments: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Partition by shard; sort by term within files so parquet min/max
    column stats prune query-term scans."""
    (
        segments.repartition("shard")
        .sortWithinPartitions("term")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def unpack_segment(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, doclens) from a segment row (dict-like)."""
    return (
        vb.delta_decode_ids(bytes(row["doc_ids"])),
        vb.decode_ints(bytes(row["tfs"])),
        vb.decode_ints(bytes(row["doclens"])),
    )


def unpack_segment_titles(row, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(title_tfs, title_lens) from a segment row — zeros for rows
    packed before the field layer existed (nullable columns)."""
    ttf = row["tfs_title"] if "tfs_title" in row else None
    if ttf is None:
        z = np.zeros(n, dtype=np.int64)
        return z, z.copy()
    return (
        vb.decode_ints(bytes(ttf)),
        vb.decode_ints(bytes(row["title_lens"])),
    )


def last_run_wins(run_ids: list[np.ndarray]) -> np.ndarray:
    """Doc-level last-run-wins (upsert, I1) over one term's runs given
    in ascending run order, each a sorted doc-id array → indices into
    their concatenation of each doc's posting from the highest run
    holding it, in doc_id order."""
    ids = np.concatenate(run_ids)
    run_no = np.repeat(np.arange(len(run_ids)), [len(r) for r in run_ids])
    order = np.lexsort((run_no, ids))
    s = ids[order]
    keep = np.ones(len(s), dtype=bool)
    keep[:-1] = s[1:] != s[:-1]  # the last row of each doc_id wins
    return order[keep]


def unpack_runs(rows) -> tuple[np.ndarray, ...]:
    """(doc_ids, tfs, doclens, title_tfs, title_lens) of one term's
    packed segment rows (dict-like, ascending run order), merged
    last-run-wins."""
    parts = []
    for row in rows:
        ids, tfs, dls = unpack_segment(row)
        parts.append((ids, tfs, dls, *unpack_segment_titles(row, len(ids))))
    if len(parts) == 1:
        return parts[0]
    sel = last_run_wins([p[0] for p in parts])
    return tuple(np.concatenate(c)[sel] for c in zip(*parts))


def delta_segments(
    delta_prepared: DataFrame,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    n_shards: int,
    run_id: int,
    avgtl: float = 0.0,
) -> DataFrame:
    """Incremental update (reference I1, single-page reindex
    IndexingService.java:71-95): a small batch of new/changed docs →
    packed segments tagged with a NEW run_id, appended alongside the
    base run. Query-time _TermList merges runs last-wins (upsert), so
    updated docs take effect without rewriting the base index;
    index.refresh.refresh_and_repack compacts when runs accumulate.

    df/doclen statistics for the delta reuse the BASE corpus stats
    (n_docs, avgdl, term df) — the standard approximation for small
    deltas; index.refresh.refresh_and_repack re-aggregates exactly
    (idempotent, no ±1 mutation — SURVEY §3.3) and closes the window."""
    from ..operators.postings import explode_term_counts

    postings = explode_term_counts(delta_prepared)
    in_row = "ttf" in postings.columns  # aligned ttfs rode the explode
    # explode_term_counts emits doclen (and tlen when fielded) per
    # posting row — known before the explode — so the delta needs no
    # doc-side join either; the field layer (avgtl = BASE corpus
    # constant, same approximation family as n_docs/avgdl; exact at
    # compaction) rides in-row when the prepared frame carries ttfs.
    title_side = (
        title_field_side(delta_prepared.select("doc_id", "title"))
        if not in_row and "title" in delta_prepared.columns else None
    )
    enriched = (
        postings
        .join(term_stats.select("term", "df"), "term", "left")
        .fillna(1, subset=["df"])  # unseen term: df ≥ 1 once this doc lands
    )
    if not in_row:
        enriched = _with_title_cols(enriched, title_side)
    enriched = enriched.withColumn(
        "shard", F.pmod(F.hash("doc_id"), F.lit(n_shards)).cast("int")
    )
    return pack_segments_frame(enriched, n_docs, avgdl, run_id, avgtl)


def write_delta_run(
    spark,
    delta_prepared: DataFrame,
    index_base: str,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    n_shards: int,
    run_id: int,
    avgtl: float = 0.0,
) -> None:
    """Append one delta run: packed segments (delta_segments) PLUS the
    delta docs' meta rows (doc_id, url, site, doclen, run_id) to
    idx/doc_meta_runs — the breadcrumb refresh_and_repack needs to
    rebuild doc_stats exactly (url/site are not recoverable from
    packed postings). Both writes are appends; the run becomes visible
    to queries via last-run-wins merge immediately.

    `delta_prepared` is persisted across the two writes: its lineage
    contains the extract/tokenize UDFs (the hottest Python path), which
    would otherwise run a second time just to derive the meta doclens.

    Crash/replay safety: segments are appended FIRST - a crash before
    the meta append leaves orphan segment rows that are inert (the
    refresh supersede is keyed on the META run, not the postings), and
    an at-least-once replay re-appends value-identical rows that every
    consumer dedups (index.refresh.current_view /
    _doc_meta_resolved; the read-time merge)."""
    from ..operators.postings import doclen_from_counts

    delta_prepared = delta_prepared.persist()
    try:
        delta = delta_segments(
            delta_prepared, term_stats, n_docs=n_docs, avgdl=avgdl,
            n_shards=n_shards, run_id=run_id, avgtl=avgtl,
        )
        (
            delta.repartition("shard")
            .write.mode("append")
            .partitionBy("shard")
            .parquet(f"{index_base}/segments")
        )
        title = (
            F.col("title") if "title" in delta_prepared.columns
            else F.lit(None).cast("string")
        ).alias("title")
        meta = delta_prepared.select(
            "doc_id", "url", "site", title,
            doclen_from_counts(delta_prepared).alias("doclen"),
            F.lit(run_id).cast("int").alias("run_id"),
            F.lit(False).alias("deleted"),
        )
        meta.write.mode("append").parquet(f"{index_base}/idx/doc_meta_runs")
    finally:
        delta_prepared.unpersist()


def write_tombstones(
    spark, doc_ids: list[int], index_base: str, run_id: int
) -> int:
    """Delete documents (reference analog: the reindex path's
    delete-old-postings step, IndexingService.java:152, promoted to a
    first-class operation — takedowns/opt-outs at corpus scale).

    Appends tombstone meta rows (deleted=True) tagged with `run_id`;
    doc-level last-wins makes the tombstone authoritative at the next
    refresh_and_repack, which drops the docs' postings and meta and
    re-aggregates stats exactly. Until then queries still see the doc
    (documented staleness window, same as delta-run stats). A doc
    re-landed by a LATER delta run supersedes its tombstone; a
    tombstone TIED with a live run wins (deleted-wins tie-break in the
    meta resolution), so passing run_id >= the doc's latest run always
    deletes. Returns the number of tombstones written (ids not in the
    index are no-ops)."""
    from .manifest import fs_exists

    def _tcol(df):
        col = F.col("title") if "title" in df.columns else F.lit(None)
        return col.cast("string").alias("title")

    ids = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    base_meta = spark.read.parquet(f"{index_base}/idx/doc_stats")
    meta = base_meta.select("doc_id", "url", "site", _tcol(base_meta))
    # docs landed by un-refreshed deltas are deletable too; explicit
    # existence check — a read failure on an existing dir must
    # propagate, not silently no-op the deletions
    delta_path = f"{index_base}/idx/doc_meta_runs"
    if fs_exists(spark, delta_path):
        raw = spark.read.parquet(delta_path)
        meta = meta.unionByName(
            raw.select("doc_id", "url", "site", _tcol(raw))
        )
    known = meta.dropDuplicates(["doc_id"]).join(F.broadcast(ids), "doc_id")
    rows = known.select(
        "doc_id", "url", "site", "title",
        F.lit(0).cast("long").alias("doclen"),
        F.lit(run_id).cast("int").alias("run_id"),
        F.lit(True).alias("deleted"),
    ).persist()  # count + write = two actions; one metadata scan
    try:
        n = rows.count()
        if n:
            rows.write.mode("append").parquet(
                f"{index_base}/idx/doc_meta_runs"
            )
    finally:
        rows.unpersist()
    return n


def _merge_group(g: dict, n_docs: int, avgdl: float, run_id: int) -> dict:
    """merge_runs' per-group body: one (term, shard) group of packed
    segment rows in run_id order → one packed row of `run_id`. Each
    doc keeps its posting from the highest run that holds it (upsert,
    I1); df and avgtl come from the highest run deterministically — an
    arbitrary row could pick a delta run's fillna(1) df placeholder
    over the base-exact df and change block-max scores run-to-run."""
    ids, tfs, dls, ttfs, tls = unpack_runs(
        {c: v[i] for c, v in g.items()} for i in range(len(g["run_id"]))
    )
    a_tl = g["avgtl"][-1] if "avgtl" in g else None
    return _pack_arrays(
        g["term"][0], int(g["shard"][0]), ids, tfs, dls, ttfs, tls,
        int(g["df"][-1]), n_docs, avgdl, run_id,
        float(a_tl) if a_tl is not None and a_tl == a_tl else 0.0,
    )


def merge_runs(segments: DataFrame, n_docs: int, avgdl: float, run_id: int = 0) -> DataFrame:
    """Multi-pass sorted posting merge (north rule): k-way merge all
    runs of each (term, shard) into a single fresh run, through the one
    pack driver ordered by run_id (_merge_group: later runs win on a
    duplicate doc_id — upsert semantics, I1). Incremental builds append
    runs with increasing run_id. NOTE: compaction does not call this —
    scripts/compact.py runs index.refresh.refresh_and_repack
    (DOC-level supersede + exact stats); this is the (term, shard)-level
    read-time merge semantics only."""
    cols = [c for c in ("term", "shard", "run_id", "df", "doc_ids", "tfs",
                        "doclens", "tfs_title", "title_lens", "avgtl")
            if c in segments.columns]
    return _pack_walk(
        segments.select(*cols), "run_id",
        lambda g: _merge_group(g, n_docs, avgdl, run_id),
        INDEX_SEGMENTS_SCHEMA,
    )
