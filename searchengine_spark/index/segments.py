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

Layout. Each (run, shard) of a packed tree has ONE doc table: the ids
of its docs sorted ascending — a doc's RANK is its index there — and,
in this TF layout, each doc's length and title length beside its id.
A doc id is xxhash64 of its url, so the sorted ids of a posting list
sit ~2^50 apart and an id-gap varbyte stream costs more than a raw
int64 per posting; a rank gap costs about one byte. Per (term, shard,
run) segment row we store the postings' rank gaps (`doc_ids`) and tfs
and title tfs varbyte compressed, plus per-block (128 postings)
metadata: last docID (skip pointer), the exact max float64 BM25 score
(WAND upper bound — computed from the true per-posting scores, so it
can never underestimate), the two field maxima of BM25F and each
block's byte offset in every stream. A reader decodes ranks
(decode_ranks) and gathers ids, doclens and title lengths from the
table by rank; rank order is doc_id order within a (run, shard), so
everything after that gather — block-max bounds, cursors,
intersections, filters, last-run-wins — works on ids.

The table lives inside the tree it serves, under <tree>/_docs/
(partitioned by shard like the rows): Spark's listing of <tree> skips
the underscore directory, so a plain read of the tree yields segment
rows only. The tree records its format (PACKED_FORMAT, a marker file
written last); read_packed refuses any other format with the rebuild
to run.

Sizing at 10^12 docs: n_shards chosen so corpus/n_shards ≈ 64k docs
per shard → the hottest (term, shard) group decodes to ≤64k postings,
bounded executor memory regardless of term skew. Written partitioned
by shard bucket with term-sorted row groups → parquet min/max stats
prune query scans to the touched terms. A pack collects the doc
tables of the run it writes (24 bytes per doc) and ships them to its
tasks, so ranks attach to postings without a shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, NamedTuple

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

# The packed format this code reads and writes: 2 = rank-gap posting
# streams over one doc table per (run, shard). (1 stored doc-id gaps
# and per-posting doclens, with no table.)
PACKED_FORMAT = 2
DOCS_DIR = "_docs"
_FORMAT_MARKER = f"_PACKED_FORMAT_{PACKED_FORMAT}"
# doc-table rows of the two layouts
TF_DOCS_SCHEMA = "shard int, run_id int, doc_id long, doclen long, tlen long"
POS_DOCS_SCHEMA = "shard int, run_id int, doc_id long"

# --- sizing a query kernel's input -------------------------------------------
# Upper bounds on the Arrow bytes (values, the 4-byte per-row offsets of
# variable-width columns, validity bits) that the rows a query kernel
# receives hold, per posting, position and row of the packed layouts.
# ReadSizes.input_bytes applies them.

# a varbyte value (a uint64) takes at most ceil(64/7) bytes
VARBYTE_MAX_BYTES = 10
# a TF posting (INDEX_SEGMENTS_SCHEMA): its three varbyte streams (rank
# gap, tf, title tf) at their widest, plus the metadata of a whole
# block (a posting may open one): last doc id, max score and the two
# field maxima at 8 bytes, three stream offsets at 4, and those seven
# values' validity bits
SEGMENT_POSTING_BYTES_MAX = 3 * VARBYTE_MAX_BYTES + 4 * 8 + 3 * 4 + 1
# a positional posting (index/positional.POSITIONAL_SEGMENTS_SCHEMA):
# rank gap and count at their widest, plus a whole block's last doc id
# and position offset and their validity bits
POS_POSTING_BYTES_MAX = 2 * VARBYTE_MAX_BYTES + 2 * 8 + 1
# a position: one varbyte gap
POS_POSITION_BYTES_MAX = VARBYTE_MAX_BYTES
# a segment row besides its term's UTF-8 bytes: the fixed-width columns
# (shard, run_id, n_docs at 4; df, avgtl at 8), one offset for each of
# the 11 variable-width columns and a validity bit per column. A
# positional row's columns are a subset. Every row holds ≥ 1 posting,
# so charging this to each posting bounds the rows.
ROW_BYTES_MAX = 3 * 4 + 2 * 8 + 11 * 4 + 2
# a row of a kernel's side frame (side_frame): shard and run id at 4
# bytes; doc id, doclen, title length and site id at 8; their validity
# bits. Doc-table rows and site rows (members, doc→site map) share it.
SIDE_ROW_BYTES_MAX = 2 * 4 + 4 * 8 + 1
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
        self, terms, positional: bool = False, side: bool = False,
        table_rows: int = 0,
    ) -> int:
        """Upper bound on the bytes the kernels of a read over `terms`
        receive: its segment rows — the TF layout, or with `positional`
        the positional one — the `table_rows` rows of that tree's doc
        tables, and, with `side`, the side frame."""
        rows = table_rows + (self.side_rows if side else 0)
        n = SIDE_ROW_BYTES_MAX * rows
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


# --- the doc table and the rank-coded id stream --------------------------------


class DocTable(NamedTuple):
    """One (run, shard)'s doc table: `ids` sorted ascending (a doc's
    rank is its index) and, in the TF layout, each doc's `doclens` and
    title length (`tlens`) beside its id."""

    ids: np.ndarray
    doclens: np.ndarray | None = None
    tlens: np.ndarray | None = None


def doc_tables(pdf: pd.DataFrame) -> dict[int, dict[int, DocTable]]:
    """Doc-table rows (shard, run_id, doc_id[, doclen, tlen]) → shard →
    run_id → DocTable. Exact duplicate rows (an at-least-once replay of
    a delta run) collapse."""
    out: dict[int, dict[int, DocTable]] = {}
    if not len(pdf):
        return out
    pdf = pdf.drop_duplicates(["shard", "run_id", "doc_id"]).sort_values(
        ["shard", "run_id", "doc_id"]
    )
    cols = {c: pdf[c].to_numpy(dtype=np.int64)
            for c in ("shard", "run_id", "doc_id", "doclen", "tlen")
            if c in pdf.columns}
    s, r = cols["shard"], cols["run_id"]
    cuts = np.flatnonzero((s[1:] != s[:-1]) | (r[1:] != r[:-1])) + 1
    for a, b in zip(np.r_[0, cuts].tolist(), np.r_[cuts, len(s)].tolist()):
        out.setdefault(int(s[a]), {})[int(r[a])] = DocTable(
            cols["doc_id"][a:b],
            *(cols[c][a:b] if c in cols else None for c in ("doclen", "tlen")),
        )
    return out


def encode_ranks(
    doc_ids: np.ndarray, table: DocTable
) -> tuple[np.ndarray, np.ndarray]:
    """The rank encoder: a posting list's sorted doc ids → (their ranks
    in `table`, the gap stream the list stores — the first rank raw,
    then differences). Every id must be in the table."""
    ranks = np.searchsorted(table.ids, doc_ids)
    if len(ranks) and (
        ranks[-1] >= len(table.ids)
        or not np.array_equal(table.ids[ranks], doc_ids)
    ):
        raise ValueError("a posting's doc is missing from its doc table")
    return ranks, np.diff(ranks, prepend=0).astype(np.uint64)


def decode_ranks(
    buf: bytes, table: DocTable, after: int | None = None
) -> np.ndarray:
    """The rank decoder: a rank-gap stream — a whole list, or one block
    of it whose previous block ends at doc `after` — → the postings'
    ranks in `table` (int64); `table.ids[ranks]` are their doc ids."""
    prev = 0 if after is None else int(np.searchsorted(table.ids, after))
    return prev + np.cumsum(vb.varbyte_decode(buf).astype(np.int64))


@dataclass(frozen=True, eq=False)
class Packed:
    """A packed tree as its readers take it: the segment `rows` and the
    doc tables of their (run, shard)s, `docs` (shard, run_id, doc_id
    [, doclen, tlen] rows). `table_rows` counts `docs` rows when the
    holder knows it — it enters a read's input bound
    (ReadSizes.input_bytes). A server passes `collect` and `frame`,
    which return the per-shard tables (doc_tables, the driver
    executor's) and a shard-partitioned `docs` (the Spark executor's
    side frame) built once per index state (service.Generation);
    without them each read collects or reads `docs` again."""

    rows: DataFrame
    docs: DataFrame
    table_rows: int | None = None
    collect: Callable[[], dict] | None = None
    frame: Callable[[], DataFrame] | None = None

    def tables(self) -> dict[int, dict[int, DocTable]]:
        return self.collect() if self.collect else doc_tables(
            self.docs.toPandas()
        )

    def docs_frame(self) -> DataFrame:
        return self.frame() if self.frame else self.docs

    def cache(self) -> Packed:
        """This tree with its rows cached (lazily, as DataFrame.cache)."""
        return Packed(self.rows.cache(), self.docs, self.table_rows,
                      self.collect, self.frame)

    def union(self, other: Packed) -> Packed:
        """Both trees' runs as one (a base and its delta runs)."""
        return Packed(self.rows.unionByName(other.rows),
                      self.docs.unionByName(other.docs))


def _built(spark, rows: DataFrame, docs_pdf: pd.DataFrame,
           schema: str) -> Packed:
    """A freshly packed run: its rows and its collected doc-table rows,
    whose tables are already at hand."""
    return Packed(rows, spark.createDataFrame(docs_pdf, schema),
                  len(docs_pdf), collect=lambda: doc_tables(docs_pdf))


def run_tables(docs_pdf: pd.DataFrame) -> dict[int, DocTable]:
    """The doc tables of the one run a pack writes: shard → DocTable."""
    return {s: t for s, runs in doc_tables(docs_pdf).items()
            for t in runs.values()}


def side_frame(docs: DataFrame, side: DataFrame | None) -> DataFrame:
    """A kernel's one per-shard side frame: the doc-table rows (run_id
    ≥ 0) plus the rows of a read's own side — site members or a
    doc→site map — at run_id -1 (split_side parts them). Every column is
    non-null, so Arrow keeps its dtype on the way into pandas."""
    z = F.lit(0).cast("long")
    cols = ("shard", "run_id", "doc_id", "doclen", "tlen", "site_id")

    def full(df: DataFrame, run) -> DataFrame:
        have = set(df.columns)
        return df.select(
            F.col("shard").cast("int").alias("shard"),
            (F.col("run_id") if run is None else F.lit(run)).cast("int")
            .alias("run_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            *((F.col(c).cast("long") if c in have else z).alias(c)
              for c in cols[3:]),
        )

    out = full(docs, None)
    return out if side is None else out.unionByName(full(side, -1))


def split_side(
    pdf: pd.DataFrame, has_side: bool
) -> tuple[dict[int, DocTable], pd.DataFrame | None]:
    """One shard's side_frame rows → (its doc tables by run, the read's
    own side rows — None for a read without a side)."""
    doc = pdf["run_id"].to_numpy() >= 0
    tables = doc_tables(pdf[doc])
    own = pdf[~doc].reset_index(drop=True) if has_side else None
    return (next(iter(tables.values())) if tables else {}), own


def _marker(path: str) -> str:
    return f"{path}/{_FORMAT_MARKER}"


def check_format(spark, path: str) -> None:
    """Raise unless `path` is a complete packed tree of PACKED_FORMAT."""
    from .manifest import fs_exists

    if not fs_exists(spark, _marker(path)):
        raise ValueError(
            f"{path} is not a packed tree of format {PACKED_FORMAT} "
            "(rank-coded doc ids over one doc table per (run, shard)) — "
            "it was written by an older build or never completed: "
            "rebuild it (scripts/build_index.py, or build_segments → "
            "write_segments and build_positional_segments → "
            "write_positional_segments)"
        )


def read_pinned(spark, path: str) -> DataFrame:
    """The parquet tree at `path` as the files listed now: a later
    append under `path` does not change what this frame (or a cache of
    it) reads, and its cache entry is its own (service.Generation)."""
    # the listing read carries basePath so that no cached plain read of
    # `path` substitutes for it: inputFiles() reads the cache-substituted
    # plan, which lists no files
    first = spark.read.option("basePath", path).parquet(path)
    return (
        spark.read.schema(first.schema).option("basePath", path)
        .parquet(*first.inputFiles())
    )


def read_packed(spark, path: str, pinned: bool = False) -> Packed:
    """The packed tree at `path` (TF or positional) → Packed, pinned to
    the files listed now with `pinned` (read_pinned). Raises on a tree
    of another format (check_format)."""
    check_format(spark, path)
    read = (lambda p: read_pinned(spark, p)) if pinned else spark.read.parquet
    return Packed(read(path), read(f"{path}/{DOCS_DIR}"))


def write_packed(packed: Packed, path: str, mode: str = "overwrite") -> None:
    """Write a packed tree: rows partitioned by shard and term-sorted
    within files (parquet min/max stats then prune query-term scans),
    the doc tables under <path>/_docs partitioned the same way, and
    the format marker last — a tree without it is incomplete
    (check_format, refresh.recover). An append lands the tables first,
    so that no row ever lacks its table."""
    from .manifest import fs_exists, fs_touch

    spark = packed.rows.sparkSession
    if mode == "append" and fs_exists(spark, path):
        check_format(spark, path)

    def rows():
        (
            packed.rows.repartition("shard")
            .sortWithinPartitions("term")
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(path)
        )

    def docs():
        (
            packed.docs.repartition("shard")
            .sortWithinPartitions("shard", "run_id", "doc_id")
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(f"{path}/{DOCS_DIR}")
        )

    for step in (docs, rows) if mode == "append" else (rows, docs):
        step()
    fs_touch(spark, _marker(path))


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
    term, shard: int, doc_ids, tfs, ttfs, table: DocTable, df_term: int,
    n_docs: int, avgdl: float, run_id: int, avgtl: float,
) -> dict:
    """One (term, shard) group as RAW numpy arrays, with the doc table
    of its (run, shard) → one packed segment row as a plain dict — the
    pandas-free TF kernel every TF packer shares (pack_segments_frame's
    and merge_runs' bodies, the kernel tests' reference packer). Each
    posting's doclen and title length come from the table by rank. A
    per-group pandas round-trip costs ~1 ms regardless of group size;
    at a web-corpus dictionary (10^7+ (term, shard) groups) that fixed
    overhead IS the pack time, so the pack driver (_pack_walk) batches
    thousands of these dicts into each Arrow frame instead."""
    from ..operators.fielded import FIELD_B_BODY, FIELD_B_TITLE

    order = np.argsort(doc_ids, kind="stable")
    doc_ids = doc_ids[order].astype(np.int64)
    tfs = tfs[order].astype(np.int64)
    ttfs = ttfs[order].astype(np.int64)
    ranks, gaps = encode_ranks(doc_ids, table)
    doclens = table.doclens[ranks]
    tlens = table.tlens[ranks]
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
    enc = {}
    offs = {}
    for key, vals in (
        ("ids", gaps), ("tfs", tfs.astype(np.uint64)),
        ("ttf", ttfs.astype(np.uint64)),
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
        "block_last_doc": block_last,
        "block_max_score": block_max,
        "block_off_ids": offs["ids"],
        "block_off_tfs": offs["tfs"],
        "tfs_title": enc["ttf"],
        "block_off_ttf": offs["ttf"],
        "block_max_bnorm": block_bn,
        "block_max_tnorm": block_tn,
        "avgtl": float(avgtl),
    }


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
    tables: dict[int, DocTable],
    n_docs: int,
    avgdl: float,
    run_id: int,
    avgtl: float,
) -> DataFrame:
    """Bulk pack: (term, shard, doc_id, tf, df, ttf) → the packed
    segment rows of run `run_id`, through the one pack driver
    (_pack_walk) with _pack_arrays as the per-group body. `tables` are
    the run's doc tables by shard (run_tables); they ride the body's
    closure to the tasks, so ranks and lengths attach without a join.

    doc_id is the in-group order, so the body's stable argsort sees
    presorted input (its merge fast path: ~85 µs vs ~7 ms on 75k random
    int64) — the Tungsten sort adds the key for near-free.

    Shuffle width: the title tf rides PACKED into the tf (tfx = tf·2³¹
    + ttf — exact while tf < 2³¹ and 0 ≤ ttf ≤ tf, which the extraction
    invariant guarantees: title text ⊆ body text), so the exchange and
    the Arrow hop into Python carry five narrow columns; the body
    splits it with a shift and a mask."""
    low = (np.int64(1) << np.int64(31)) - 1

    def body(g: dict) -> dict:
        tfx, shard = g["tfx"], int(g["shard"][0])
        return _pack_arrays(
            g["term"][0], shard, g["doc_id"], tfx >> 31, tfx & low,
            tables[shard], int(g["df"][0]), n_docs, avgdl, run_id, avgtl,
        )

    packed_in = enriched.select(
        "term", "shard", "doc_id", "df",
        (F.col("tf").cast("long") * F.lit(1 << 31).cast("long")
         + F.coalesce(F.col("ttf"), F.lit(0)).cast("long")).alias("tfx"),
    )
    return _pack_walk(packed_in, "doc_id", body, INDEX_SEGMENTS_SCHEMA)


def shard_of(n_shards: int):
    """The doc-space shard of `doc_id`: pmod(hash(doc_id), n_shards)."""
    return F.pmod(F.hash("doc_id"), F.lit(n_shards)).cast("int")


def _table_rows(
    docs: DataFrame, shard, title_side: DataFrame | None = None
) -> DataFrame:
    """(doc_id, doclen[, tlen]) doc stats → the TF doc-table rows
    (shard, doc_id, doclen, tlen) of a run, `shard` a Column. The title
    length comes from `title_side` when given, else from `tlen`, else
    is 0."""
    if title_side is not None:
        docs = docs.drop("tlen").join(
            title_side.select("doc_id", "tlen"), "doc_id", "left"
        )
    tlen = F.coalesce(F.col("tlen"), F.lit(0)) if "tlen" in docs.columns \
        else F.lit(0)
    return docs.select(
        shard.alias("shard"), F.col("doc_id").cast("long").alias("doc_id"),
        F.col("doclen").cast("long").alias("doclen"),
        tlen.cast("long").alias("tlen"),
    )


def collect_docs(docs: DataFrame, run_id: int) -> pd.DataFrame:
    """A run's doc-table rows (shard, doc_id[, doclen, tlen]) collected
    and tagged with `run_id`, in the column order of TF_DOCS_SCHEMA /
    POS_DOCS_SCHEMA."""
    rest = [c for c in docs.columns if c not in ("shard", "doc_id")]
    return docs.select(
        "shard", F.lit(run_id).cast("int").alias("run_id"), "doc_id", *rest
    ).toPandas()


def _pack_tf(enriched: DataFrame, docs: DataFrame, n_docs: int,
             avgdl: float, run_id: int, avgtl: float | None) -> Packed:
    """The TF tree of one run: its doc tables collected once, then the
    bulk pack. `avgtl` defaults to the tables' Σ tlen / n_docs — docs
    without a title count as length 0 (they are real documents of the
    corpus; the packed convention, mirrored by every oracle twin)."""
    docs_pdf = collect_docs(docs, run_id)
    if avgtl is None:
        avgtl = float(docs_pdf["tlen"].sum()) / n_docs if n_docs else 0.0
    rows = pack_segments_frame(
        enriched, run_tables(docs_pdf), n_docs, avgdl, run_id, avgtl
    )
    return _built(enriched.sparkSession, rows, docs_pdf, TF_DOCS_SCHEMA)


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
    title data. (Title lengths are per doc: the doc table holds them.)"""
    if title_side is None:
        return enriched.withColumn("ttf", F.lit(0))
    return (
        enriched.join(title_side.select("doc_id", "tmap"), "doc_id", "left")
        .withColumn(
            "ttf",
            F.coalesce(F.element_at(F.col("tmap"), F.col("term")), F.lit(0)),
        )
        .drop("tmap")
    )


def build_segments(
    index: IndexTables,
    n_docs: int,
    avgdl: float,
    n_shards: int | None = None,
    run_id: int = 0,
    title_tf: DataFrame | None = None,
    title_len: DataFrame | None = None,
    avgtl: float | None = None,
) -> Packed:
    """postings + stats → the packed TF tree of run `run_id` (its rows
    and doc tables): the enrich step (enrich_postings), one collect of
    the doc tables, and the bulk pack (pack_segments_frame).

    The per-field TF layer (BM25F serving) is derived from
    doc_stats.title by default (same analyzer as the body), or from
    explicit (title_tf, title_len) frames. `avgtl` (corpus avg title
    length) is taken from the collected tables when not passed."""
    if n_shards is None:
        par = index.postings.sparkSession.sparkContext.defaultParallelism
        n_shards = n_shards_for(n_docs, min_parallelism=par)
    enriched, docs = enrich_postings(index, n_shards, title_tf, title_len)
    return _pack_tf(enriched, docs, n_docs, avgdl, run_id, avgtl)


def enrich_postings(
    index: IndexTables,
    n_shards: int,
    title_tf: DataFrame | None = None,
    title_len: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The pack's inputs: postings → (term, shard, doc_id, tf, df, ttf)
    rows for pack_segments_frame, and the run's doc-table rows (shard,
    doc_id, doclen, tlen) from the doc-level stats. Shared by
    build_segments and the resumable per-group build
    (index/manifest.py), which packs it one shard group at a time.

    The lengths come from doc_stats, one row per doc, never from the
    posting stream: the pack gathers them from the table by rank, so
    the only join of the postings is the tiny term_stats df lookup
    (plus the title map when the title layer is not in-row)."""
    # In-row fast path: a materialize_index-built index already carries
    # the field layer (postings.ttf from the single extraction pass,
    # doc_stats.tlen from the doclen aggregation). No second title
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
    enriched = index.postings.join(
        index.term_stats.select("term", "df"), "term"
    )
    if not in_row:
        enriched = _with_title_cols(enriched, title_side)
    shard = shard_of(n_shards)
    doc_cols = ["doc_id", "doclen"] + (["tlen"] if in_row else [])
    return (
        enriched.withColumn("shard", shard),
        _table_rows(index.doc_stats.select(*doc_cols), shard, title_side),
    )


def write_segments(segments: Packed, path: str, mode: str = "overwrite") -> None:
    """Write a TF tree (build_segments' rows and doc tables) — see
    write_packed."""
    write_packed(segments, path, mode)


def unpack_segment(row, table: DocTable) -> tuple[np.ndarray, ...]:
    """(doc_ids, tfs, doclens, title_tfs, title_lens) of a segment row
    (a dict or pandas Series) with its (run, shard)'s doc table. Title
    tfs read as zeros when the row's field layer was projected away
    (wand.term_pruned_segments)."""
    ranks = decode_ranks(bytes(row["doc_ids"]), table)
    ttf = row.get("tfs_title")
    return (
        table.ids[ranks],
        vb.decode_ints(bytes(row["tfs"])),
        table.doclens[ranks],
        vb.decode_ints(bytes(ttf)) if ttf is not None
        else np.zeros(len(ranks), dtype=np.int64),
        table.tlens[ranks],
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


def unpack_runs(rows, tables: dict[int, DocTable]) -> tuple[np.ndarray, ...]:
    """(doc_ids, tfs, doclens, title_tfs, title_lens) of one term's
    packed segment rows (dict-like, ascending run order) in one shard,
    `tables` its doc tables by run, merged last-run-wins."""
    parts = [unpack_segment(row, tables[int(row["run_id"])]) for row in rows]
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
) -> Packed:
    """Incremental update (reference I1, single-page reindex
    IndexingService.java:71-95): a small batch of new/changed docs →
    a packed TF tree of a NEW run_id (rows and the batch's own doc
    tables), appended alongside the base run. Query-time _TermList
    merges runs last-wins (upsert), so updated docs take effect
    without rewriting the base index; index.refresh.refresh_and_repack
    compacts when runs accumulate.

    df statistics for the delta reuse the BASE corpus stats (n_docs,
    avgdl, term df) — the standard approximation for small deltas;
    index.refresh.refresh_and_repack re-aggregates exactly
    (idempotent, no ±1 mutation — SURVEY §3.3) and closes the window."""
    from ..operators.postings import doclen_from_counts, explode_term_counts

    postings = explode_term_counts(delta_prepared)
    in_row = "ttf" in postings.columns  # aligned ttfs rode the explode
    # the field layer (avgtl = BASE corpus constant, same approximation
    # family as n_docs/avgdl; exact at compaction) rides in-row when
    # the prepared frame carries ttfs
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
    shard = shard_of(n_shards)
    docs = delta_prepared.select(
        "doc_id", doclen_from_counts(delta_prepared).alias("doclen"),
        *(["tlen"] if in_row else []),
    )
    return _pack_tf(enriched.withColumn("shard", shard),
                    _table_rows(docs, shard, title_side),
                    n_docs, avgdl, run_id, avgtl)


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
    """Append one delta run: its packed tree (delta_segments — doc
    tables, then rows; write_packed) PLUS the delta docs' meta rows
    (doc_id, url, site, doclen, run_id) to idx/doc_meta_runs — the
    breadcrumb refresh_and_repack needs to rebuild doc_stats exactly
    (url/site are not recoverable from packed postings). Every write
    is an append; the run becomes visible to queries via last-run-wins
    merge immediately.

    `delta_prepared` is persisted across the writes: its lineage
    contains the extract/tokenize UDFs (the hottest Python path), which
    would otherwise run again just to derive the meta doclens.

    Crash/replay safety: segments are appended FIRST - a crash before
    the meta append leaves orphan segment rows that are inert (the
    refresh supersede is keyed on the META run, not the postings), and
    an at-least-once replay re-appends value-identical rows that every
    consumer dedups (index.refresh.current_view /
    _doc_meta_resolved; doc_tables; the read-time merge)."""
    from ..operators.postings import doclen_from_counts

    delta_prepared = delta_prepared.persist()
    try:
        write_packed(
            delta_segments(
                delta_prepared, term_stats, n_docs=n_docs, avgdl=avgdl,
                n_shards=n_shards, run_id=run_id, avgtl=avgtl,
            ),
            f"{index_base}/segments", mode="append",
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


def _merge_group(g: dict, n_docs: int, avgdl: float, run_id: int,
                 tables: dict, merged: dict[int, DocTable]) -> dict:
    """merge_runs' per-group body: one (term, shard) group of packed
    segment rows in run_id order → one packed row of `run_id`. Each
    doc keeps its posting from the highest run that holds it (upsert,
    I1), decoded with that run's doc table (`tables`: shard → run →
    DocTable); the row is coded over the shard's `merged` table. df
    and avgtl come from the highest run deterministically — an
    arbitrary row could pick a delta run's fillna(1) df placeholder
    over the base-exact df and change block-max scores run-to-run."""
    shard = int(g["shard"][0])
    ids, tfs, _, ttfs, _ = unpack_runs(
        ({c: v[i] for c, v in g.items()} for i in range(len(g["run_id"]))),
        tables[shard],
    )
    a_tl = g["avgtl"][-1] if "avgtl" in g else None
    return _pack_arrays(
        g["term"][0], shard, ids, tfs, ttfs, merged[shard],
        int(g["df"][-1]), n_docs, avgdl, run_id,
        float(a_tl) if a_tl is not None and a_tl == a_tl else 0.0,
    )


def merge_tables(runs: dict[int, DocTable]) -> DocTable:
    """One shard's doc tables by run → one table: each doc's row from
    the highest run that holds it."""
    order = sorted(runs)
    sel = last_run_wins([runs[r].ids for r in order])
    return DocTable(*(np.concatenate([getattr(runs[r], c) for r in order])[sel]
                      for c in DocTable._fields))


def merge_runs(segments: Packed, n_docs: int, avgdl: float,
               run_id: int = 0) -> Packed:
    """Multi-pass sorted posting merge (north rule): k-way merge all
    runs of each (term, shard) into a single fresh run, through the one
    pack driver ordered by run_id (_merge_group: later runs win on a
    duplicate doc_id — upsert semantics, I1), over one doc table per
    shard that keeps each doc's latest row (merge_tables). Incremental
    builds append runs with increasing run_id. NOTE: compaction does
    not call this — scripts/compact.py runs
    index.refresh.refresh_and_repack (DOC-level supersede + exact
    stats); this is the (term, shard)-level read-time merge semantics
    only, except that a doc's length is its latest one."""
    tables = segments.tables()
    merged = {s: merge_tables(runs) for s, runs in tables.items()}
    docs_pdf = pd.DataFrame({
        "shard": np.concatenate([np.full(len(t.ids), s, np.int32)
                                 for s, t in merged.items()] or [[]]),
        "run_id": np.int32(run_id),
        **{c: np.concatenate([getattr(t, f) for t in merged.values()]
                             or [[]]).astype(np.int64)
           for c, f in (("doc_id", "ids"), ("doclen", "doclens"),
                        ("tlen", "tlens"))},
    })
    cols = [c for c in ("term", "shard", "run_id", "df", "doc_ids", "tfs",
                        "tfs_title", "avgtl")
            if c in segments.rows.columns]
    rows = _pack_walk(
        segments.rows.select(*cols), "run_id",
        lambda g: _merge_group(g, n_docs, avgdl, run_id, tables, merged),
        INDEX_SEGMENTS_SCHEMA,
    )
    return _built(segments.rows.sparkSession, rows, docs_pdf, TF_DOCS_SCHEMA)
