#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north rule: ≥0.8 throughput
scaling efficiency between N and 4N executors).

No real cluster exists in this sandbox, so the same job runs at two
parallelism levels — local[8] and local[32] — on the SAME pre-generated
input, each in a fresh process (fresh JVM, core count enforced by the
local master). Reported:

    efficiency = (T_8 / T_32) / (32 / 8)

i.e. the fraction of ideal 4× speedup achieved. Session startup is
excluded; corpus generation is excluded (input is shared); the measured
job is extract→tokenize→index→pack (build) and the BM25 WAND query set
(query).

    python scripts/scaling.py [--docs 40000] [--out SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


N_SHARDS_PINNED = 32  # data layout — identical at every cluster size


def worker(cores: int, docs_path: str, passes: int = 2) -> None:
    """Runs in a fresh process: measured build + query at local[cores]."""
    sys.path.insert(0, REPO)
    from searchengine_spark.index.segments import (
        build_segments,
        read_packed,
        write_segments,
    )
    from searchengine_spark.index.wand import search_packed
    from searchengine_spark.operators.postings import materialize_index
    from searchengine_spark.operators.search import corpus_constants
    from searchengine_spark.session import get_spark
    from tests.queries import QUERIES

    # cluster-faithful memory model: a 4N-executor cluster brings 4×
    # the memory of an N-executor one, so the JVM serving a level gets
    # a FIXED per-core executor share plus a fixed driver overhead.
    # The session default (1 GiB/core) has no driver share. A fixed
    # floor (the earlier default, max(12, cores) GiB; see BASELINE.md)
    # handed the SMALL level 6 GiB/core and the large one 1-2 —
    # under-provisioning exactly the level whose concurrent sort/Arrow
    # tasks need it, which shows up as spill only at the high level and
    # biases efficiency down.
    os.environ.setdefault(
        "SPARK_DRIVER_MEM", f"{min(6 + 4 * cores, 64)}g"
    )
    spark = get_spark(f"scale{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    docs = spark.read.parquet(docs_path)
    n_web = docs.count()  # warm the scan; excluded from timing

    # warm the Python worker pool (one tiny pandas-UDF action) so the
    # measured window reflects steady-state cluster throughput, not
    # one-time worker cold-start
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(0, cores * 4, numPartitions=cores * 4).select(
        _warm(col("id"))
    ).count()

    stages = {}
    with tempfile.TemporaryDirectory(prefix=f"scale{cores}_") as tmp:
        # two full build passes, keep the faster one — the VM shows
        # multi-second intermittent stalls unrelated to the workload;
        # min-of-2 measures the engine, not the hypervisor
        per_pass = []
        probes = []
        for i in range(passes):
            # per-pass host-phase attestation (see bench.py "Host phase
            # calibration"): cpu_md5 and mem_commit are Spark-free and
            # core-count independent, so one reference serves every
            # level — a pass whose probe is out of band is a
            # degraded-phase artifact, not an engine number
            from bench import (
                PROBE_BAND,
                PROBE_BAND_MEM,
                PROBE_REF_CPU_MD5,
                PROBE_REF_MEM_COMMIT,
                _probe_cpu_md5,
                _probe_mem_commit,
            )

            pr_cpu = _probe_cpu_md5()
            pr_mem = _probe_mem_commit()
            probes.append({
                "cpu_md5_sec": round(pr_cpu, 4),
                "mem_commit_sec": round(pr_mem, 4),
                "in_band": bool(
                    pr_cpu <= PROBE_BAND * PROBE_REF_CPU_MD5
                    and pr_mem <= PROBE_BAND_MEM * PROBE_REF_MEM_COMMIT
                ),
            })
            t0 = time.monotonic()
            idx = materialize_index(spark, docs, f"{tmp}/idx", use_html=True)
            t_index = time.monotonic() - t0
            t1 = time.monotonic()
            n_docs, avgdl = corpus_constants(idx.doc_stats)
            segs = build_segments(idx, n_docs, avgdl, n_shards=N_SHARDS_PINNED)
            write_segments(segs, f"{tmp}/segments")
            t_pack = time.monotonic() - t1
            per_pass.append((t_index + t_pack, t_index, t_pack))
        t_build, ti, tp = min(per_pass)
        stages["index"] = round(ti, 3)
        stages["pack"] = round(tp, 3)
        stages["passes"] = [round(p[0], 3) for p in per_pass]
        stages["probes"] = probes

        segments = read_packed(spark, f"{tmp}/segments").cache()
        segments.rows.count()
        df_map = {r["term"]: r["df"] for r in idx.term_stats.collect()}
        lat = []
        t0 = time.monotonic()
        for _, qtext, site, offset, limit, mode, conj in QUERIES:
            if mode != "bm25" or site is not None or offset:
                continue
            tq = time.monotonic()
            search_packed(spark, segments, idx.term_stats, n_docs, avgdl,
                          qtext, k=limit, conjunctive=conj,
                          df_map=df_map).collect()
            lat.append(time.monotonic() - tq)
        t_query = time.monotonic() - t0

    print(json.dumps({
        "cores": cores, "n_docs": n_web, "t_build": round(t_build, 3),
        "stages": stages,
        "build_docs_per_sec": round(n_web / t_build, 1),
        "t_query": round(t_query, 3), "n_queries": len(lat),
        "query_p95": round(sorted(lat)[int(0.95 * (len(lat) - 1))], 4),
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=40000)
    ap.add_argument("--words-scale", type=int, default=4,
                    help="document-length multiplier (heavier per-doc work)")
    ap.add_argument("--cores", type=int, default=None,
                    help="(internal) run the worker at this core count")
    ap.add_argument("--docs-path", default=None)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--passes", type=int, default=2,
                    help="build passes per level (min is reported)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    if args.cores:
        worker(args.cores, args.docs_path, args.passes)
        return

    # parent: generate the shared input once, then one fresh process per level
    sys.path.insert(0, REPO)
    if args.docs_path:
        docs_path = args.docs_path  # pre-generated corpus (reuse across runs)
    else:
        tmp = tempfile.mkdtemp(prefix="scaling_corpus_")
        docs_path = f"{tmp}/docs"
        from searchengine_spark.session import get_spark
        from searchengine_spark.sources.corpus import write_corpus

        spark = get_spark("scaling_gen")
        write_corpus(spark, args.docs, docs_path, words_scale=args.words_scale)
        spark.stop()

    levels = [int(x) for x in args.levels.split(",")]
    results = {}
    for cores in levels:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--cores", str(cores), "--docs-path", docs_path,
             "--passes", str(args.passes)],
            capture_output=True, text=True, cwd=REPO,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if not line:
            print(p.stdout, p.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"worker local[{cores}] failed")
        results[cores] = json.loads(line[-1])

    lo, hi = min(levels), max(levels)
    ideal = hi / lo
    eff_build = (results[lo]["t_build"] / results[hi]["t_build"]) / ideal
    eff_query = (results[lo]["t_query"] / results[hi]["t_query"]) / ideal
    out = {
        "docs": results[lo]["n_docs"],
        "levels": results,
        "ideal_speedup": ideal,
        "build_speedup": round(results[lo]["t_build"] / results[hi]["t_build"], 3),
        "build_scaling_efficiency": round(eff_build, 3),
        "query_speedup": round(results[lo]["t_query"] / results[hi]["t_query"], 3),
        "query_scaling_efficiency": round(eff_query, 3),
    }
    print(json.dumps(out))
    if args.out:
        write_merged(args.out, out)


def write_merged(path: str, out: dict) -> None:
    """Write this run's keys into the JSON file at `path`, keeping every
    other key already there (earlier measurements, methodology notes)."""
    merged = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            merged = json.load(f)
    merged.update(out)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(merged, f, indent=2)


if __name__ == "__main__":
    main()
