#!/usr/bin/env python
"""spark-submit entry point: compact segment runs + refresh statistics.

Incremental ingestion (streaming/ingest.py or scripts/build_index.py
deltas) appends one run per batch; queries merge runs at read time
(last-run-wins), which costs decode work proportional to run count,
and delta runs score with stale base statistics. This maintenance
pass (index/refresh.py:refresh_and_repack) re-aggregates
term_stats/doc_stats/(n_docs, avgdl) EXACTLY from the stored runs
(doc-level last-run-wins supersede), repacks every (term, shard) as a
single fresh run-0 with true block-max scores, and atomically swaps
both the segments directory and the relational idx tables. The result
equals a cold full rebuild of the current corpus state
(tests/test_refresh.py asserts byte-identity).

Pause ingestion while this runs (single-writer maintenance).

    python scripts/compact.py --index <build root>
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    args = ap.parse_args()

    from searchengine_spark.index.refresh import recover, refresh_and_repack
    from searchengine_spark.index.segments import read_packed
    from searchengine_spark.session import get_spark

    spark = get_spark("compact")
    action = recover(args.index)
    if action != "clean":
        print(f"recovered interrupted refresh: {action}")
    segments = read_packed(spark, f"{args.index}/segments").rows
    n_runs = segments.select("run_id").distinct().count()
    if n_runs <= 1 and not os.path.isdir(f"{args.index}/idx/doc_meta_runs"):
        # single run and no pending delta meta: the index is already
        # the exact compacted state — a full repack would rewrite
        # everything for a byte-identical result
        print(f"nothing to compact ({n_runs} run, no delta meta)")
        return

    t0 = time.time()
    tables, compacted = refresh_and_repack(spark, args.index)
    n_seg = compacted.rows.count()
    n_docs = tables.doc_stats.count()
    print(
        f"refreshed stats + compacted {n_runs} runs -> 1 "
        f"({n_seg} segments, {n_docs} docs) in {time.time() - t0:.1f}s "
        f"at {args.index}"
    )


if __name__ == "__main__":
    main()
