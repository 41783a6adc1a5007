"""Prefix ("wildcard") term queries: ``spar*`` -> ranked retrieval.

The reference resolves only whole words through morphology; prefix
matching is the other standard dictionary-driven query every fulltext
engine ships (Lucene PrefixQuery). Two stages, both scale-shaped:

  1. EXPANSION: dictionary terms starting with the prefix, ranked
     (df DESC, term ASC) and CAPPED at ``max_expansions`` (Lucene's
     bounded-rewrite rule — an unbounded ``a*`` must not explode into
     a million-term disjunction). term_stats is written term-sorted
     (operators/postings.py), so at scale the LIKE 'p%' predicate
     prunes row groups via term min/max — a dictionary range scan,
     not a full scan. The capped expansion is a tiny driver-side list.
  2. RETRIEVAL: BM25 disjunctive scoring over the expanded terms —
     the packed path routes through the block-max-pruned WAND kernel
     (index/wand.search_packed semantics, conjunctive=False), so a
     stopword-heavy expansion member never gets decoded wholesale.

Scoring: BM25 sum over the expanded terms present in the doc — the
same contract as disjunctive search; the deterministic (df DESC, term)
expansion order makes the capped term set — and therefore scores —
reproducible on any engine (the DuckDB oracle replays the same cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _expansion(
    term_stats: DataFrame, prefix: str, max_expansions: int
) -> dict[str, int]:
    """{term: df} of expand_prefix's terms, in its order."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    rows = (
        term_stats.filter(F.col("term").startswith(prefix))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(max_expansions)
        .select("term", "df")
        .collect()
    )
    return {r["term"]: r["df"] for r in rows}


def expand_prefix(
    term_stats: DataFrame, prefix: str, max_expansions: int = 50
) -> list[str]:
    """Dictionary terms starting with ``prefix``, ranked (df DESC,
    term ASC), capped at ``max_expansions`` — a tiny driver-side list
    (reference analog: the query-word dictionary lookup J1, widened
    to a range)."""
    return list(_expansion(term_stats, prefix, max_expansions))


def prefix_search_packed(
    spark,
    segments,
    term_stats: DataFrame,
    n_docs: int,
    avgdl: float,
    prefix: str,
    k: int = 20,
    max_expansions: int = 50,
    excluded_doc_ids: list[int] | None = None,
) -> DataFrame:
    """Prefix top-k over a packed TF tree (index/segments.Packed) ->
    (doc_id, score), ranked:
    bounded expansion, then a DataFrame view over the disjunctive,
    df-unpruned block-max WAND read over the expanded terms
    (index/wand.search_packed_fused, without the count — the read
    SearchService.prefix serves)."""
    from ..index.wand import _page_frame, search_packed_fused

    exp = _expansion(term_stats, prefix, max_expansions)
    hits, _ = search_packed_fused(
        spark, segments, term_stats, n_docs, avgdl, prefix,
        lemmas=list(exp), df_map=exp, k=k, conjunctive=False,
        max_rel_freq=1.0, excluded_doc_ids=excluded_doc_ids, _count=False,
    )
    return _page_frame(spark, hits)


def prefix_search(
    spark,
    index,
    prefix: str,
    max_expansions: int = 50,
    constants: tuple[int, float] | None = None,
) -> DataFrame:
    """Relational prefix retrieval over IndexTables -> (doc_id,
    score): the executable specification the packed path is tested
    against — broadcast expansion join, one groupBy(doc_id)."""
    from .search import bm25_term_score, corpus_constants

    terms = expand_prefix(index.term_stats, prefix, max_expansions)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    n_docs, avgdl = constants or corpus_constants(index.doc_stats)
    dfx = index.term_stats.select("term", "df").filter(
        F.col("term").isin(terms)
    )
    w = bm25_term_score(
        n_docs=F.lit(float(n_docs)), avgdl=F.lit(avgdl)
    )
    return (
        # (term, doc_id, tf) projection: materialized postings carry
        # doclen/ttf/tlen in-row for the pack — unprojected, the
        # doc_stats join would make `doclen` ambiguous
        index.postings.select("term", "doc_id", "tf")
        .filter(F.col("term").isin(terms))
        .join(index.doc_stats.select("doc_id", "doclen"), "doc_id")
        .join(F.broadcast(dfx), "term")
        .groupBy("doc_id")
        .agg(F.sum(w).alias("score"))
    )
