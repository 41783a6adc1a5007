"""Boolean query retrieval: explicit AND / OR / NOT over the index.

The reference engine serves implicit-AND bag-of-words queries only
(services/ApiService.java:127-139 intersects every query lemma);
explicit boolean operators are the canonical next step for any
fulltext engine, so this module adds them over the same postings with
both a relational (DataFrame) evaluator and a packed-segment kernel.

Semantics
---------
* Grammar: ``expr := or``, ``or := and (OR and)*``,
  ``and := unary (AND? unary)*`` (adjacency is implicit AND, the
  reference's default), ``unary := NOT unary | '(' expr ')' | TERM``.
  Operators are the UPPERCASE keywords ``AND OR NOT``; anything else
  is a term (corpus tokens are lowercase, so there is no collision).
* Matching: a doc matches the expression over its term-presence set.
* Scoring: BM25 sum over the query's POSITIVE leaf terms present in
  the doc (leaves not under any NOT). NOT branches only restrict the
  match set — they never contribute weight. Corpus statistics stay
  global, same contract as the filtered-retrieval paths.
* Groundedness: the match set must be constructible from posting
  lists alone (never "all docs minus X"): a term is grounded, an AND
  is grounded iff >=1 non-NOT child is, an OR iff ALL children are,
  a NOT never is. Ungrounded queries (``NOT a``, ``a OR NOT b``)
  raise — at 10^12 docs "everything except" is not a servable query.

Scale shape
-----------
Relational path: one postings scan pruned to the query's leaf terms
(pushed ``term IN``), one groupBy(doc_id) computing per-term presence
flags and the positive-term BM25 sum together, the boolean expression
evaluated as a native Column over the flags — one shuffle carrying
only the leaf terms' postings, broadcast df/corpus stats.

Packed path: the same per-shard set algebra the WAND kernels use —
AND drives from the rarest positive child and probes the rest via
lazy block lookup (a stopword-heavy companion list is never decoded
wholesale), OR unions child sets, NOT subtracts via sorted setdiff;
survivors are scored exactly. Per-shard top-k, tiny global merge.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .search import bm25_term_score, lemmatize_query

if TYPE_CHECKING:
    from ..index.segments import Packed, ReadSizes

# AST: ("term", str | None) | ("and", [node]) | ("or", [node])
#    | ("not", node). A None term matches nothing (a leaf whose
# lemmatization came back empty — e.g. a stop-POS word).
Node = tuple

# --- parser ------------------------------------------------------------------


def _lex(q: str) -> list[str]:
    out: list[str] = []
    for raw in q.replace("(", " ( ").replace(")", " ) ").split():
        out.append(raw)
    return out


class _P:
    def __init__(self, toks: list[str]):
        self.toks, self.i = toks, 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of boolean query")
        self.i += 1
        return t

    def parse_or(self) -> Node:
        kids = [self.parse_and()]
        while self.peek() == "OR":
            self.take()
            kids.append(self.parse_and())
        return kids[0] if len(kids) == 1 else ("or", kids)

    def parse_and(self) -> Node:
        kids = [self.parse_unary()]
        while True:
            t = self.peek()
            if t == "AND":
                self.take()
                kids.append(self.parse_unary())
            elif t is not None and t not in ("OR", ")"):
                kids.append(self.parse_unary())  # implicit AND
            else:
                break
        return kids[0] if len(kids) == 1 else ("and", kids)

    def parse_unary(self) -> Node:
        t = self.peek()
        if t == "NOT":
            self.take()
            return ("not", self.parse_unary())
        if t == "(":
            self.take()
            node = self.parse_or()
            if self.take() != ")":
                raise ValueError("expected ')' in boolean query")
            return node
        if t is None or t in ("AND", "OR", ")"):
            raise ValueError(f"expected a term, got {t!r}")
        return ("term", self.take())


def grounded(node: Node) -> bool:
    """True iff the node's match set is constructible from posting
    lists alone (see module docstring)."""
    kind = node[0]
    if kind == "term":
        return True
    if kind == "not":
        return False
    if kind == "and":
        return any(grounded(c) for c in node[1])
    return all(grounded(c) for c in node[1])  # or


def normalize(node: Node) -> Node:
    """Flatten nested AND/OR and collapse double negation, so
    ``a AND (NOT b NOT c)`` becomes one AND with the NOTs spliced in
    (evaluable as subtractions) and ``NOT NOT a`` becomes ``a``."""
    kind = node[0]
    if kind == "term":
        return node
    if kind == "not":
        inner = normalize(node[1])
        return inner[1] if inner[0] == "not" else ("not", inner)
    kids = [normalize(c) for c in node[1]]
    flat: list[Node] = []
    for c in kids:
        flat.extend(c[1]) if c[0] == kind else flat.append(c)
    return flat[0] if len(flat) == 1 else (kind, flat)


def _servable(node: Node) -> bool:
    """True iff every set the evaluator must materialize is grounded:
    each NOT's operand is itself a grounded, servable subquery (its
    set is computed and SUBTRACTED — never complemented)."""
    kind = node[0]
    if kind == "term":
        return True
    if kind == "not":
        return False  # only legal as an AND child (checked there)
    if kind == "or":
        return all(grounded(c) and _servable(c) for c in node[1])
    return any(grounded(c) for c in node[1]) and all(
        _servable(c) if c[0] != "not" else
        (grounded(c[1]) and _servable(c[1]))
        for c in node[1]
    )


def parse_bool_query(q: str) -> Node:
    """Query string -> normalized, validated AST. Raises ValueError
    on syntax errors and on ungrounded (negation-only) queries."""
    toks = _lex(q)
    if not toks:
        raise ValueError("empty boolean query")
    p = _P(toks)
    node = normalize(p.parse_or())
    if p.peek() is not None:
        raise ValueError(f"trailing tokens in boolean query: {p.toks[p.i:]}")
    if not (grounded(node) and _servable(node)):
        raise ValueError(
            "ungrounded boolean query (pure negation matches "
            "'everything except' — not servable from posting lists)"
        )
    return node


def map_leaves(node: Node, fn) -> Node:
    """Rewrite every term leaf with fn(term) -> Node."""
    kind = node[0]
    if kind == "term":
        return fn(node[1])
    if kind == "not":
        return ("not", map_leaves(node[1], fn))
    return (kind, [map_leaves(c, fn) for c in node[1]])


def lemmatize_ast(node: Node) -> Node:
    """Lemmatize every leaf with the corpus analyzer. A leaf that
    lemmatizes to nothing (stop-POS) matches nothing; a leaf whose
    token splits into several lemmas becomes their conjunction."""

    def fn(term: str | None) -> Node:
        lemmas = lemmatize_query(term) if term else []
        if not lemmas:
            return ("term", None)
        if len(lemmas) == 1:
            return ("term", lemmas[0])
        return ("and", [("term", l) for l in lemmas])

    return map_leaves(node, fn)


def leaf_terms(node: Node) -> list[str]:
    """All distinct non-None leaf terms, first-seen order."""
    out: dict[str, None] = {}

    def walk(n: Node):
        if n[0] == "term":
            if n[1] is not None:
                out.setdefault(n[1])
        elif n[0] == "not":
            walk(n[1])
        else:
            for c in n[1]:
                walk(c)

    walk(node)
    return list(out)


def positive_terms(node: Node) -> list[str]:
    """Distinct leaf terms NOT under any NOT (the scoring terms)."""
    out: dict[str, None] = {}

    def walk(n: Node, neg: bool):
        if n[0] == "term":
            if n[1] is not None and not neg:
                out.setdefault(n[1])
        elif n[0] == "not":
            walk(n[1], True)
        else:
            for c in n[1]:
                walk(c, neg)

    walk(node, False)
    return list(out)


# --- relational evaluator ----------------------------------------------------


def flag_expr(node: Node, flag) -> Column:
    """Compile the AST to a boolean Column over per-term presence
    flags; ``flag(term) -> Column``. A None leaf is constant False."""
    kind = node[0]
    if kind == "term":
        return F.lit(False) if node[1] is None else flag(node[1])
    if kind == "not":
        return ~flag_expr(node[1], flag)
    kids = [flag_expr(c, flag) for c in node[1]]
    acc = kids[0]
    for c in kids[1:]:
        acc = (acc & c) if kind == "and" else (acc | c)
    return acc


def bool_match_score(
    tf: DataFrame,
    dl: DataFrame,
    dfx: DataFrame,
    stats: DataFrame,
    ast: Node,
) -> DataFrame:
    """(doc_id, score) of docs matching the AST.

    ``tf``: (doc_id, term, tf); ``dl``: (doc_id, doclen);
    ``dfx``: (term, df); ``stats``: one row (n, avgdl).

    Plan: tf scan pruned to the leaf terms -> broadcast df/stats join
    -> ONE groupBy(doc_id) producing the positive-term BM25 sum AND a
    presence flag per leaf term -> native boolean filter over the
    flags. Groundedness guarantees every match carries >=1 positive
    term, so it appears in the grouped frame and scores non-null."""
    leaves = sorted(set(leaf_terms(ast)))
    scoring = sorted(set(positive_terms(ast)))
    if not leaves or not scoring:
        return tf.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    w = bm25_term_score(
        tf=F.col("tf"),
        df=F.col("df"),
        doclen=F.col("doclen"),
        n_docs=F.col("n"),
        avgdl=F.col("avgdl"),
    )
    matched = (
        tf.filter(F.col("term").isin(leaves))
        .join(dl, "doc_id")
        .join(F.broadcast(dfx.filter(F.col("term").isin(leaves))), "term")
        .crossJoin(F.broadcast(stats))
    )
    flags = {
        t: F.max((F.col("term") == t).cast("int")).alias(f"_f{i}")
        for i, t in enumerate(leaves)
    }
    grouped = matched.groupBy("doc_id").agg(
        F.sum(F.when(F.col("term").isin(scoring), w)).alias("score"),
        *flags.values(),
    )
    names = {t: f"_f{i}" for i, t in enumerate(leaves)}
    cond = flag_expr(ast, lambda t: F.col(names[t]) == 1)
    return grouped.filter(cond).select("doc_id", "score")


def bool_search(
    spark,
    index,
    query: str | Node,
    constants: tuple[int, float] | None = None,
    lemmatize: bool = True,
) -> DataFrame:
    """Boolean retrieval over IndexTables -> (doc_id, score)."""
    from .search import corpus_constants

    ast = parse_bool_query(query) if isinstance(query, str) else query
    if lemmatize:
        ast = normalize(lemmatize_ast(ast))
    n_docs, avgdl = constants or corpus_constants(index.doc_stats)
    stats = spark.createDataFrame(
        [(n_docs, avgdl)], "n long, avgdl double"
    )
    dl = index.doc_stats.select("doc_id", "doclen")
    dfx = index.term_stats.select("term", "df")
    return bool_match_score(
        index.postings.select("doc_id", "term", "tf"), dl, dfx, stats, ast
    )


# --- packed-segment kernel ---------------------------------------------------


def _is_pure_disjunction(ast: Node) -> bool:
    return ast[0] == "term" or (
        ast[0] == "or" and all(c[0] == "term" for c in ast[1])
    )


def _bool_eval(
    lists: dict, ast: Node, allowed: np.ndarray | None,
    excluded: np.ndarray | None,
) -> np.ndarray:
    """One shard's match set for the AST (sorted doc ids).

    Set algebra over the lazy _TermList API: AND drives from the
    smallest positive child and probes remaining TERM children via
    block-selective lookup (never decoding their lists wholesale);
    OR unions; NOT subtracts. ``allowed`` is a doc-level filter (this
    shard's members of the site being searched — candidates are
    intersected with it before scoring, corpus statistics stay
    global); ``excluded`` is the tombstone deny-list (both sorted
    unique int64)."""
    from ..index.wand import (
        _NO_IDS, _filter, _intersect_sorted, _setdiff_sorted,
    )

    def est(n: Node) -> int:
        """Cheap upper-ish bound used only to order AND children."""
        if n[0] == "term":
            t = lists.get(n[1])
            return t.n if t is not None else 0
        if n[0] == "or":
            return sum(est(c) for c in n[1])
        if n[0] == "and":
            cands = [est(c) for c in n[1] if c[0] != "not"]
            return min(cands) if cands else 0
        return 0

    def eval_set(n: Node) -> np.ndarray:
        kind = n[0]
        if kind == "term":
            t = lists.get(n[1]) if n[1] is not None else None
            return t.decode_all()[0] if t is not None else _NO_IDS
        if kind == "or":
            acc = _NO_IDS
            for c in n[1]:
                acc = np.union1d(acc, eval_set(c))
            return acc
        if kind == "and":
            pos = sorted(
                (c for c in n[1] if c[0] != "not"), key=est
            )
            neg = [c[1] for c in n[1] if c[0] == "not"]
            cand = eval_set(pos[0])
            for c in pos[1:]:
                if len(cand) == 0:
                    return cand
                if c[0] == "term":
                    t = lists.get(c[1]) if c[1] is not None else None
                    if t is None:
                        return _NO_IDS
                    _, present = t.lookup(cand)
                    cand = cand[present]
                else:
                    cand = _intersect_sorted(cand, eval_set(c))
            for c in neg:
                if len(cand) == 0:
                    return cand
                cand = _setdiff_sorted(cand, eval_set(c))
            return cand
        raise ValueError("NOT outside AND survived parser validation")

    return _filter(eval_set(ast), allowed, excluded)


def bool_shard(
    pdf: pd.DataFrame,
    tables: dict,
    ast: Node,
    n_docs: int,
    avgdl: float,
    k: int,
    allowed: np.ndarray | None = None,
    excluded: np.ndarray | None = None,
    count: bool = False,
) -> pd.DataFrame:
    """One shard's segments (all leaf terms) and its doc tables by run
    (index/segments.DocTable) -> the shard-local top-k
    of docs matching the AST, scored over the positive terms, plus the
    trailer row of index/wand's kernel contract (n_matched filled when
    ``count``: the boolean evaluation materializes the full match set
    anyway, so the count is free). See _bool_eval for the set algebra
    and filter semantics."""
    from ..index.wand import (
        _select, _TermList, _trailer, wand_shard, with_trailer,
    )

    # pure disjunction of terms (or a single term) IS the WAND
    # disjunctive query — route it through the block-max-pruned kernel
    # instead of decoding every list wholesale for the union
    # (rank-identical: WAND pruning is sound; scoring is the same BM25
    # sum over present terms)
    if _is_pure_disjunction(ast):
        n_terms = 1 if ast[0] == "term" else len(ast[1])
        return wand_shard(
            pdf, tables, n_docs, avgdl, k, conjunctive=False, n_terms=n_terms,
            allowed=allowed, excluded=excluded, count=count,
        )
    lists = {} if allowed is not None and len(allowed) == 0 else {
        term: _TermList(rows, tables, n_docs, avgdl)
        for term, rows in pdf.groupby("term", sort=False)
    }
    cand = _bool_eval(lists, ast, allowed, excluded)
    scores = np.zeros(len(cand), dtype=np.float64)
    n_hit = np.zeros(len(cand), dtype=np.int64)
    for t in positive_terms(ast):
        tl = lists.get(t)
        if tl is None:
            continue
        sc, present = tl.lookup(cand)
        scores += sc
        n_hit += present
    return with_trailer(
        _select(cand, scores, n_hit, k),
        _trailer(list(lists.values()), len(cand) if count else 0,
                 len(cand), len(cand)),
    )


def bool_search_packed(
    spark,
    segments: Packed,
    n_docs: int,
    avgdl: float,
    query: str | Node,
    k: int = 20,
    lemmatize: bool = True,
    excluded_doc_ids: list[int] | None = None,
    site: str | None = None,
    offset: int = 0,
    doc_stats: DataFrame | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """Boolean top-k over packed segments -> (doc_id, score), ranked.

    A DataFrame view over bool_search_packed_fused without the count:
    segment scan pruned to the leaf terms (pushed ``term IN``) -> one
    bool_shard kernel call per doc-space shard (the applyInPandas
    plan: this entry takes no ``sizes``) -> driver merge of
    <= n_shards*(offset+k) rows, offset sliced driver-side. With
    ``site``, the site's member docs are cogrouped into each shard's
    kernel (only the member list moves — the corpus never shuffles);
    corpus statistics stay global, same contract as every
    filtered-retrieval path."""
    from ..index.wand import _page_frame

    hits, _ = bool_search_packed_fused(
        spark, segments, n_docs, avgdl, query, k=k, lemmatize=lemmatize,
        excluded_doc_ids=excluded_doc_ids, site=site, offset=offset,
        doc_stats=doc_stats, n_shards=n_shards, _count=False,
    )
    return _page_frame(spark, hits)


def bool_search_packed_fused(
    spark,
    segments: Packed,
    n_docs: int,
    avgdl: float,
    query: str | Node,
    k: int = 20,
    lemmatize: bool = True,
    excluded_doc_ids: list[int] | None = None,
    site: str | None = None,
    offset: int = 0,
    doc_stats: DataFrame | None = None,
    n_shards: int | None = None,
    sizes: ReadSizes | None = None,
    _count: bool = True,
) -> tuple[list[tuple[int, float]], int]:
    """ONE kernel pass per shard serving BOTH the ranked page and the
    pre-pagination match count -> ([(doc_id, score)] offset-sliced and
    globally ranked, n_matched) — the warm server's boolean hot path,
    same contract as index/wand.search_packed_fused (``_count=False``
    skips the count and returns None for it).

    Plan shape: index/wand._shard_rows over the leaf terms (plus the
    site members with ``site``), on the driver when the input bound
    from ``sizes`` (index/segments.ReadSizes, the warm server's) is ≤
    segments.DRIVER_READ_BYTES_MAX, else — also without ``sizes`` — as
    the applyInPandas plan; then index/wand._merge."""
    from ..index.wand import (
        KERNEL_SCHEMA, _allowed_of, _deny_list, _merge, _shard_rows,
        _site_side,
    )

    if k < 0 or offset < 0:
        raise ValueError(
            f"k and offset must be >= 0 (got k={k}, offset={offset})"
        )
    ast = parse_bool_query(query) if isinstance(query, str) else query
    if lemmatize:
        ast = normalize(lemmatize_ast(ast))
    leaves = leaf_terms(ast)
    if not leaves:
        return [], (0 if _count else None)
    exc = _deny_list(excluded_doc_ids)
    rows, _, _ = _shard_rows(
        segments, leaves,
        lambda seg_pdf, tables, mem_pdf: bool_shard(
            seg_pdf, tables, ast, n_docs, avgdl, offset + k,
            allowed=_allowed_of(mem_pdf), excluded=exc, count=_count,
        ),
        KERNEL_SCHEMA, side=_site_side(segments, site, doc_stats, n_shards),
        sizes=sizes,
    )
    hits, count = _merge(rows, k, offset)
    return [(r["doc_id"], r["score"]) for r in hits], (
        count if _count else None
    )
