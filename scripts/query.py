#!/usr/bin/env python
"""spark-submit entry point: top-k BM25 query over a built index.

    spark-submit --master <...> --py-files /tmp/engine.zip \
        scripts/query.py --index <build root> --query "быстрый поиск" \
        [--k 20] [--mode packed|relational] [--disjunctive]

--mode packed (default) runs block-max WAND over <index>/segments;
--mode relational runs the declarative BM25 plan over <index>/idx.
Both produce identical top-k (rank-identity is test-enforced).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="build root (from build_index.py)")
    ap.add_argument("--query", required=True)
    ap.add_argument("--k", type=int, default=20)
    ap.add_argument("--offset", type=int, default=0)
    ap.add_argument("--site", default=None)
    ap.add_argument("--mode",
                    choices=["packed", "relational", "phrase", "boolean",
                             "suggest", "prefix"],
                    default="packed",
                    help="phrase = exact-sequence retrieval over "
                         "<index>/possegs (build_index.py --positional); "
                         "boolean = explicit AND/OR/NOT over <index>/"
                         "segments; suggest = fuzzy did-you-mean over "
                         "the term dictionary")
    ap.add_argument("--scoring", choices=["bm25", "bm25f", "legacy"],
                    default="bm25",
                    help="legacy = reference sum(rank)/max(rank); "
                         "bm25f = field-weighted ranking (title vs "
                         "body) served from the packed field layer")
    ap.add_argument("--title-weight", type=float, default=2.0,
                    metavar="W",
                    help="bm25f title field weight (body stays 1.0)")
    ap.add_argument("--disjunctive", action="store_true")
    ap.add_argument("--blend", type=float, default=None, metavar="W",
                    help="rerank by bm25 + W*PageRank authority (needs "
                         "<index>/staticrank from build_index.py "
                         "--static-rank); serves through the warm "
                         "SearchService path")
    ap.add_argument("--collapse", type=int, default=None, metavar="N",
                    help="host collapsing: at most N results per site "
                         "(packed mode; 'term^2.5' boost syntax works "
                         "in any bm25 query)")
    ap.add_argument("--facets", action="store_true",
                    help="print per-site facet counts of the match set "
                         "instead of ranked results")
    args = ap.parse_args()

    from searchengine_spark.index.segments import read_packed
    from searchengine_spark.index.wand import search_packed
    from searchengine_spark.operators.postings import read_index
    from searchengine_spark.operators.search import corpus_constants, search
    from searchengine_spark.session import get_spark

    spark = get_spark("query")
    if args.blend is not None:
        from searchengine_spark.service import SearchService

        svc = SearchService(spark, args.index)
        t0 = time.time()
        resp = svc.search(args.query, site=args.site, offset=args.offset,
                          limit=args.k, blend=args.blend,
                          mode=args.scoring,
                          conjunctive=not args.disjunctive)
        dt = time.time() - t0
        for d in resp["data"]:
            print(d)
        print(f"-- {len(resp['data'])} of {resp['count']} results "
              f"in {dt * 1000:.0f} ms")
        return
    idx = read_index(spark, f"{args.index}/idx")
    n_docs, avgdl = corpus_constants(idx.doc_stats)
    t0 = time.time()
    if args.mode == "phrase":
        from pyspark.sql import functions as F

        from searchengine_spark.index.positional import (
            phrase_search_packed,
        )

        pos_segments = read_packed(spark, f"{args.index}/possegs")
        out = (
            phrase_search_packed(spark, pos_segments, args.query)
            .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
            .limit(args.k)
        )
    elif args.mode == "boolean":
        from searchengine_spark.operators.boolquery import (
            bool_search_packed,
        )

        segments = read_packed(spark, f"{args.index}/segments")
        out = bool_search_packed(
            spark, segments, n_docs, avgdl, args.query, k=args.k
        )
    elif args.mode == "suggest":
        from searchengine_spark.operators.fuzzy import suggest_terms

        out = suggest_terms(idx.term_stats, args.query, topn=args.k)
    elif args.mode == "prefix":
        from searchengine_spark.operators.prefix import (
            prefix_search_packed,
        )

        segments = read_packed(spark, f"{args.index}/segments")
        out = prefix_search_packed(
            spark, segments, idx.term_stats, n_docs, avgdl, args.query,
            k=args.k,
        )
    elif args.facets:
        from searchengine_spark.index.wand import facet_counts_packed

        segments = read_packed(spark, f"{args.index}/segments")
        out = facet_counts_packed(
            spark, segments, idx.term_stats, idx.doc_stats, n_docs,
            args.query, conjunctive=not args.disjunctive, top=args.k,
        )
    elif args.mode == "packed":
        from searchengine_spark.operators.search import parse_boosted_query

        boosts = None
        if "^" in args.query:
            args.query, parsed = parse_boosted_query(args.query)
            boosts = parsed or None
        segments = read_packed(spark, f"{args.index}/segments")
        fw = (
            {"body": 1.0, "title": args.title_weight}
            if args.scoring == "bm25f" else None
        )
        out = search_packed(
            spark, segments, idx.term_stats, n_docs, avgdl, args.query,
            k=args.k, conjunctive=not args.disjunctive, mode=args.scoring,
            site=args.site, offset=args.offset, doc_stats=idx.doc_stats,
            collapse_n=args.collapse, boosts=boosts, field_weights=fw,
        )
    else:
        out = search(
            spark, idx, args.query, k=args.k, offset=args.offset,
            site=args.site, conjunctive=not args.disjunctive,
            mode=args.scoring, constants=(n_docs, avgdl),
        )
    rows = out.collect()
    dt = time.time() - t0
    for r in rows:
        print(r.asDict())
    print(f"-- {len(rows)} results in {dt * 1000:.0f} ms")


if __name__ == "__main__":
    main()
