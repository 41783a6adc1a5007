#!/usr/bin/env python
"""Where the two executors of a collected packed read cross.

index/wand._shard_rows runs a read's shard kernels on the driver (one
Arrow collect of the term-pruned scan, kernels in-process) when the
read's input bound is ≤ segments.DRIVER_READ_BYTES_MAX, and as the
applyInPandas plan (one Python-worker task per shard) above it. This
script times the same read on both executors as the input grows:
webtext indexes of growing size (4 shards), a disjunctive top-20 +
count WAND read over the 1-12 most common terms, median of 5 timed
calls after one warm-up, at local[2]. One JSON line per read:

    n_docs, k (terms), sum_df, bound_mb (segments.ReadSizes.input_bytes),
    driver_ms, spark_ms

    PYTHONPATH=. python scripts/executor_crossover.py \\
        --docs 2000,10000,40000,120000 --work /tmp/xo
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build(spark, base: str, n: int) -> None:
    import pandas as pd

    from searchengine_spark.index.segments import (
        build_segments,
        write_segments,
    )
    from searchengine_spark.operators.postings import materialize_index
    from searchengine_spark.operators.search import corpus_constants
    from searchengine_spark.sources.corpus import gen_rows

    docs = spark.createDataFrame(pd.DataFrame(gen_rows(range(n))))
    idx = materialize_index(spark, docs, f"{base}/idx", use_html=True)
    n_docs, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n_docs, avgdl, n_shards=4),
                   f"{base}/segments")


def timed(fn, reps: int = 5) -> float:
    fn()
    ms = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ms.append((time.perf_counter() - t0) * 1000)
    return statistics.median(ms)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--docs", default="2000,10000,40000,120000")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", default=None, help="also write a JSON list")
    args = ap.parse_args(argv)

    from searchengine_spark.index import wand
    from searchengine_spark.index.segments import ReadSizes
    from searchengine_spark.operators.search import corpus_constants
    from searchengine_spark.session import get_spark

    spark = get_spark("executor-crossover", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for n in (int(x) for x in args.docs.split(",")):
        base = os.path.join(args.work, f"webtext{n}")
        if not os.path.exists(f"{base}/segments"):
            build(spark, base, n)
        segs = spark.read.parquet(f"{base}/segments").cache()
        segs.count()
        stats = spark.read.parquet(f"{base}/idx/term_stats").toPandas()
        sizes = ReadSizes(postings=dict(zip(stats.term, stats.df)),
                          positions=dict(zip(stats.term, stats.cf)))
        n_docs, avgdl = corpus_constants(
            spark.read.parquet(f"{base}/idx/doc_stats"))
        top = stats.sort_values(["df", "term"], ascending=[False, True])
        for k in (1, 2, 4, 8, 12):
            terms = list(top.term[:k])
            kernel, side = wand._wand_kernel(
                segs, terms, n_docs, avgdl, 20, False, count=True)

            def read(nbytes):
                return lambda: wand._shard_rows(
                    segs, terms, kernel, wand.KERNEL_SCHEMA, "bm25", side,
                    nbytes)

            row = {"n_docs": n, "k": k,
                   "sum_df": int(top.df[:k].sum()),
                   "bound_mb": round(sizes.input_bytes(terms) / 2**20, 1),
                   # 0 fits any positive limit; None has no bound
                   "driver_ms": round(timed(read(0))),
                   "spark_ms": round(timed(read(None)))}
            print(json.dumps(row), flush=True)
            rows.append(row)
        segs.unpersist()
    spark.stop()
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rows, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
