"""End-to-end benchmark of searchengine_spark: build, open and serve.

    python3 perfbench/run.py --workload serve-read --seed 1 --seconds 10 --trace 0

Runs from any working directory; the repo root is the parent of this
file's directory. Each run generates its inputs from `--seed`
(perfbench/gen.py), then, on a fresh local Spark session:

1. set-up: one production build (`materialize_index` ->
   `build_segments`/`write_segments` -> `build_positional_segments` + a
   materialized `docs_text`), then SETUP_REPS `SearchService` opens
   over it. `setup_s` is the build plus the median open: the time from
   the landed docs to a service ready to serve.
2. an untimed warm-up block, then a timed window of whole blocks of
   the workload's request stream lasting at least `--seconds`:
   closed-loop clients send them to the last service opened.
3. an untimed correctness gate: a seeded sample of page-1 searches must
   match the relational spec `operators.search.search` (same doc ids,
   scores within 1e-9), and the packed posting counts must equal the
   `postings` rows and the `term_stats` df of every term.

With `--trace 1` the run repeats the window with tracing on (spans from
the wrappers in perfbench/tracing.py, one Spark job group per request,
a Spark event log), then exercises the write path — `index_page`,
`delete_page`, `refresh_and_repack` and a reopen, checking
read-your-write, read-your-delete and the live doc set — and prints the
per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object: {correct, attempted, failed,
metrics}. The line before it holds the per-request-kind breakdown and
the host settings the run used.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# corpus size, traffic and service options per workload (see
# BENCHMARK.json for why each exists)
WORKLOADS = {
    "serve-read": {"corpus": "webtext", "n_docs": 2000, "shards": 4,
                   "positional": True, "clients": 2, "cache": True},
    # one shard: the longest posting lists this corpus size allows
    "prune": {"corpus": "zipf", "n_docs": 10000, "shards": 1,
              "positional": False, "clients": 1, "cache": False},
}
SETUP_REPS = 3
N_CHECKS = 2  # page-1 searches compared against the relational spec
SCORE_TOL = 1e-9
TIE_MARGIN = 50
WRITE_CYCLES = 1  # traced run: index_page/delete_page cycles before compaction
STREAM_LEN = 1000  # more requests than a window can send


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_settings(work: Path) -> dict:
    """Pin the session to the host: at most 2 Spark cores, a driver heap
    that fits (the engine's default pre-touches max(12, cores) GB),
    scratch dirs inside the run's work dir, and the repo on the Python
    path of Spark's Python workers. On a 4-core host `local[4]` was
    slower than `local[2]` on every metric (search latency, throughput,
    build and open): the driver JVM, the Python driver and Spark's
    Python workers need the other cores."""
    nproc = len(os.sched_getaffinity(0))
    cores = min(2, nproc)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(2, int(mem_gb // 4)))}g"
    for sub in ("local", "tmp", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    pypath = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ.update({
        "SPARK_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(pypath),
    })
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    sys.path.insert(0, str(ROOT))
    return {"nproc": nproc, "cores": cores, "SPARK_DRIVER_MEM": driver_mem,
            "SPARK_LOCAL_DIRS": os.path.relpath(work / "local", ROOT)}


def start_spark(settings: dict, work: Path, trace: bool):
    from searchengine_spark.session import get_spark

    mem = settings["SPARK_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the engine's JVM flags, plus JVM scratch inside the work dir
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC "
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = settings["cores"]
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is None and gateway is None:
        return
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(d, f)) for f in files
                if not f.startswith((".", "_"))
            )
    return total


def cached_mb(spark) -> float:
    """Storage memory held by cached frames (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------------------
# set-up: build + open
# ---------------------------------------------------------------------------


def build_index(spark, docs, base: str, wl: dict) -> dict:
    """The production build; returns per-phase wall seconds."""
    from searchengine_spark.index.positional import (
        build_positional_segments,
        write_positional_segments,
    )
    from searchengine_spark.index.segments import build_segments, write_segments
    from searchengine_spark.operators.postings import (
        materialize_index,
        prepare_docs,
    )
    from searchengine_spark.operators.search import corpus_constants

    html = wl["corpus"] == "webtext"
    t0, w0 = time.perf_counter(), time.time()
    idx = materialize_index(spark, docs, f"{base}/idx", use_html=html)
    t1, w1 = time.perf_counter(), time.time()
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n, avgdl, n_shards=wl["shards"]),
                   f"{base}/segments")
    t2, w2 = time.perf_counter(), time.time()
    # wall-clock windows attribute event-log stages to build phases
    t = {"materialize_s": t1 - t0, "pack_s": t2 - t1,
         "walls": {"materialize": (w0, w1), "pack": (w1, w2)}}
    if wl["positional"]:
        prepared = prepare_docs(docs, use_html=html)
        write_positional_segments(
            build_positional_segments(
                prepared.select("doc_id", "lemmas"), wl["shards"]),
            f"{base}/possegs",
        )
        t3 = time.perf_counter()
        prepared.select("doc_id", "text").write.parquet(f"{base}/docs_text")
        t.update(positional_pack_s=t3 - t2,
                 docs_text_s=time.perf_counter() - t3)
    t["build_s"] = time.perf_counter() - t0
    return t


def open_service(spark, base: str, wl: dict):
    from searchengine_spark.service import SearchService

    docs_text = (
        spark.read.parquet(f"{base}/docs_text") if wl["positional"] else None
    )
    return SearchService(spark, base, docs_text=docs_text,
                         cache_responses=wl["cache"])


def setup(spark, docs, work: Path, wl: dict):
    """One cold build, then SETUP_REPS service opens. The build runs
    once, as it costs several opens."""
    base = str(work / "index")
    build = build_index(spark, docs, base, wl)
    opens, svc = [], None
    for _ in range(SETUP_REPS):
        if svc is not None:
            svc.close()
        t0 = time.perf_counter()
        svc = open_service(spark, base, wl)
        opens.append(time.perf_counter() - t0)
    return svc, base, build, opens


# ---------------------------------------------------------------------------
# timed window
# ---------------------------------------------------------------------------


def call(svc, req: dict) -> dict:
    kind, q, limit = req["kind"], req["query"], req["limit"]
    if kind == "phrase":
        return svc.phrase(q, limit=limit)
    if kind == "boolean":
        return svc.boolean(q, limit=limit)
    return svc.search(
        q, site=req["site"], offset=req["offset"], limit=limit,
        snippets=kind == "snippets", mode=req["mode"],
        conjunctive=req["conjunctive"],
    )


def well_formed(resp: dict, limit: int) -> bool:
    data = resp.get("data")
    return (resp.get("result") is True and isinstance(data, list)
            and len(data) <= limit
            and isinstance(resp.get("count"), int) and resp["count"] >= 0)


def run_window(svc, tracer, reqs: list[dict], clients: int, seconds: float,
               block: int) -> tuple[list[dict], float]:
    """Closed loop: each client sends its next request when the last
    one returns. Requests are taken in stream order, and the window
    closes at the first block boundary after `seconds` (but not before
    one block has been sent), so every window holds whole blocks of the
    stream: the same mix on every run. An exception or malformed
    response is a failed request."""
    records: list[dict] = []
    lock = threading.Lock()
    nxt = 0
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def take() -> int | None:
        nonlocal nxt
        with lock:
            if nxt == len(reqs) or (nxt % block == 0 and nxt > 0 and
                                    time.perf_counter() >= deadline):
                return None
            nxt += 1
            return nxt - 1

    def client():
        while True:
            i = take()
            if i is None:
                return
            t0 = time.perf_counter()
            req = reqs[i]
            rec = {"i": i, "kind": req["kind"], "t0": t0, "ok": False}
            try:
                with tracer.request(req["kind"], i=i):
                    resp = call(svc, req)
                rec["ok"] = well_formed(resp, req["limit"])
                rec["resp"] = resp
                if not rec["ok"]:
                    rec["error"] = "malformed response"
            except Exception as e:  # counted, never fatal
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
            rec["t1"] = time.perf_counter()
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = max(r["t1"] for r in records) - t_start
    records.sort(key=lambda r: r["i"])
    return records, elapsed


def kind_latencies(records: list[dict],
                   reqs: list[dict]) -> dict[str, list[float]]:
    """ms per request kind; repeats of an earlier request (served from
    the response cache) are their own kind, `repeat`."""
    out: dict[str, list[float]] = {}
    for r in records:
        if r["ok"]:
            kind = "repeat" if reqs[r["i"]].get("repeat") else r["kind"]
            out.setdefault(kind, []).append(1000.0 * (r["t1"] - r["t0"]))
    return out


def block_summary(records: list[dict], reqs: list[dict],
                  block: int) -> list[list[float]]:
    """[seconds, median ms of its computed requests] per block of the
    window: a block lasts from the end of the previous one (or the
    window's start) to the end of its last request."""
    out, prev = [], min(r["t0"] for r in records)
    for b in range(0, len(records), block):
        recs = records[b:b + block]
        end = max(r["t1"] for r in recs)
        lat = [1000.0 * (r["t1"] - r["t0"]) for r in recs
               if not reqs[r["i"]].get("repeat")]
        out.append([round(end - prev, 3), round(median(lat))])
        prev = end
    return out


# ---------------------------------------------------------------------------
# correctness gate (untimed)
# ---------------------------------------------------------------------------


def check_searches(spark, svc, base: str, reqs: list[dict],
                   records: list[dict]) -> list[str]:
    """The first N_CHECKS distinct bm25 page-1 searches the window
    served must equal the relational spec over the same index."""
    from searchengine_spark.operators import search as rsearch
    from searchengine_spark.operators.postings import read_index

    index = read_index(spark, f"{base}/idx")
    seen, errors = set(), []
    for rec in records:
        req = reqs[rec["i"]]
        if (not rec["ok"] or req["kind"] != "search" or req["mode"] != "bm25"
                or req["offset"] or not rec["resp"]["data"]):
            continue
        key = (req["query"], req["site"], req["conjunctive"])
        if key in seen:
            continue
        seen.add(key)
        # past the page, so a near-tie group cut by the page is whole
        spec = [
            (r["doc_id"], r["score"]) for r in rsearch.search(
                spark, index, req["query"], k=req["limit"] + TIE_MARGIN,
                site=req["site"], conjunctive=req["conjunctive"],
                constants=(svc.n_docs, svc.avgdl),
            ).collect()
        ]
        got = [(d["doc_id"], d["relevance"]) for d in rec["resp"]["data"]]
        bad = same_ranking(got, spec, req["limit"])
        if bad:
            errors.append(f"search {key!r}: {bad}")
        if len(seen) == N_CHECKS:
            break
    if len(seen) < N_CHECKS:
        errors.append(f"only {len(seen)} searches to check")
    return errors


def guarded(errors: list[str], name: str, fn, *args):
    """Run one untimed step; an exception is recorded as a failed
    operation instead of ending the run. Returns None if it raised."""
    try:
        return fn(*args)
    except Exception as e:
        errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
        return None


def same_ranking(got: list, spec: list, limit: int) -> str | None:
    """Same doc ids in the same order, scores within SCORE_TOL. Docs
    whose scores are within SCORE_TOL of each other form a near-tie:
    summation order may flip them, so inside one the ids may permute,
    and a near-tie cut by the page may keep any of its members."""
    want = spec[:limit]
    if len(got) != len(want):
        return f"{len(got)} rows, spec has {len(want)}"
    spec_score = dict(spec)
    for pos, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > SCORE_TOL:
            return f"rank {pos}: score {gs!r} != {ws!r}"
        if gd != wd and abs(spec_score.get(gd, float("inf")) - gs) > SCORE_TOL:
            return f"rank {pos}: doc {gd} != {wd}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    return None


def check_build(spark, base: str) -> list[str]:
    """Packed posting counts equal the postings rows, and per-term
    packed totals equal term_stats.df."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators.postings import read_index

    idx = read_index(spark, f"{base}/idx")
    seg = spark.read.parquet(f"{base}/segments")
    per_term = seg.groupBy("term").agg(F.sum("n_docs").alias("packed"))
    packed = per_term.agg(F.sum("packed")).collect()[0][0]
    rows = idx.postings.count()
    bad = (
        per_term.join(idx.term_stats, "term", "full_outer")
        .filter(~F.coalesce(F.col("packed") == F.col("df"), F.lit(False)))
        .count()
    )
    errors = []
    if packed != rows:
        errors.append(f"packed postings {packed} != postings rows {rows}")
    if bad:
        errors.append(f"{bad} terms whose packed total != term_stats.df")
    return errors


# ---------------------------------------------------------------------------
# traced run: write path
# ---------------------------------------------------------------------------


def write_path(spark, tracer, svc, base: str, wl: dict, docs_pdf,
               seed: int):
    """WRITE_CYCLES x (index_page a page with a unique token -> it must
    be found; delete_page an existing url -> it must be gone from the
    results and the count), then refresh_and_repack + reopen: the live
    doc set must be the base set plus inserts minus deletes. Only the
    writes, the repack and the reopen are traced."""
    import numpy as np

    from searchengine_spark.functions.lemma_dict import STOP_SURFACES
    from searchengine_spark.index.refresh import refresh_and_repack

    rng = np.random.default_rng([seed, 9])
    errors: list[str] = []
    ops = 0
    n_before = svc.n_docs
    victims = rng.choice(len(docs_pdf), size=WRITE_CYCLES, replace=False)
    probes = []  # (token, new doc id, victim term, victim doc id, count)
    tracer.enabled = False
    for c, v in enumerate(victims):
        token = f"benchtok{seed}x{c}"
        url = f"https://site{c}.example/perfbench-{seed}-{c}"
        tracer.enabled = True
        with tracer.request("index_page"):
            added = svc.index_page(url, text=f"{token} свежая страница")
        tracer.enabled = False
        ops += 2
        hit = svc.search(token)
        if added.get("doc_id") not in [d["doc_id"] for d in hit["data"]]:
            errors.append(f"read-your-write: {token} not found")
        words = [w for w in docs_pdf["text"].iloc[v].split()
                 if w not in STOP_SURFACES and w != "data"]
        term = max(words)  # for Zipf: the rarest rank in the page
        before = svc.search(term, conjunctive=False)["count"]
        tracer.enabled = True
        with tracer.request("delete_page"):
            gone = svc.delete_page(docs_pdf["url"].iloc[v])
        tracer.enabled = False
        ops += 2
        after = svc.search(term, conjunctive=False)
        if not gone.get("result") or after["count"] != before - 1 or (
            gone.get("doc_id") in [d["doc_id"] for d in after["data"]]
        ):
            errors.append(f"read-your-delete: {term} {before}->"
                          f"{after['count']}")
        probes.append((token, added.get("doc_id"), term,
                       gone.get("doc_id"), after["count"]))
    runs = svc.segments.select("run_id").distinct().count()
    svc.close()
    tracer.enabled = True
    with tracer.span("refresh.repack"):
        refresh_and_repack(spark, base)
    with tracer.span("service.reopen"):
        svc = open_service(spark, base, wl)
    tracer.enabled = False
    ops += 1
    if svc.n_docs != n_before:  # one insert and one delete per cycle
        errors.append(f"live docs after compaction {svc.n_docs} != "
                      f"{n_before}")
    for token, new_id, term, old_id, count in probes:
        ops += 1
        ids = [d["doc_id"] for d in svc.search(token)["data"]]
        after = svc.search(term, conjunctive=False)
        if new_id not in ids or after["count"] != count or old_id in [
            d["doc_id"] for d in after["data"]
        ]:
            errors.append(f"after compaction: {token}/{term} wrong")
    rewritten = dir_bytes(f"{base}/idx", f"{base}/segments",
                          f"{base}/possegs")
    return svc, {"runs": runs, "bytes_rewritten": rewritten,
                 "ops": ops, "errors": errors}


def per_layer(tracer, stages, build, windows, wl, writes, extra) -> dict:
    """Per-layer metrics of the traced run, named layer.metric."""
    from tracing import stages_between

    untraced, traced = windows
    reads = [s for s in tracer.spans if s["name"].startswith("endpoint.")
             and s.get("i") is not None]
    # a response-cache hit: a repeated request that ran no Spark job
    hits = {s["id"] for s in reads
            if extra["reqs"][s["i"]].get("repeat") and s["jobs"] == 0}
    computed = [s for s in reads if s["id"] not in hits]
    searches = [s for s in computed if s["kind"] == "search"]

    def dur(s):
        return 1000.0 * (s["t1"] - s["t0"])

    def group_stages(s):
        return [st for st in stages.values() if st["group"] == s["group"]]

    req_stages = [st for s in computed for st in group_stages(s)]
    mat = stages_between(stages, *build["walls"]["materialize"])
    pack = stages_between(stages, *build["walls"]["pack"])
    write_ends = {k: [dur(s) for s in tracer.named(f"endpoint.{k}")]
                  for k in ("index_page", "delete_page")}
    writes_all = (tracer.named("endpoint.index_page")
                  + tracer.named("endpoint.delete_page"))
    lat_u = kind_latencies(untraced, extra["reqs"]).get("search", [])
    lat_t = kind_latencies(traced, extra["reqs"]).get("search", [])
    repack = tracer.named("refresh.repack")
    reopen = tracer.named("service.reopen")
    return {
        "service.self_ms": median([
            dur(s) - sum(dur(c) for c in tracer.children(s))
            for s in searches
        ]),
        "service.jobs_per_search": median([s["jobs"] for s in searches]),
        "service.stages_per_search": median(
            [len(group_stages(s)) for s in searches]),
        "service.cache_hit_pct": 100.0 * len(hits) / max(1, len(reads)),
        "service.jobs_per_write": median([s["jobs"] for s in writes_all]),
        "service.index_page_ms": median(write_ends["index_page"]),
        "service.delete_page_ms": median(write_ends["delete_page"]),
        "service.reopen_ms": median([dur(s) for s in reopen]),
        "search.analyze_ms": median(
            [dur(s) for s in tracer.named("search.analyze")]),
        "wand.kernel_ms": median(
            [dur(s) for s in tracer.named("wand.kernel")]),
        "wand.jobs_per_kernel": median(
            [s["jobs"] for s in tracer.named("wand.kernel")]),
        "wand.blocks_decoded_pct": extra["blocks"]["sample"],
        "wand.blocks_decoded_pct_common": extra["blocks"]["common"],
        "wand.blocks_decoded_pct_rare_or_common":
            extra["blocks"]["rare_or_common"],
        "wand.runs_per_search": float(writes["runs"]),
        "positional.kernel_ms": median(
            [dur(s) for s in tracer.named("positional.kernel")]),
        "positional.pack_s": build.get("positional_pack_s", 0.0),
        "boolquery.kernel_ms": median(
            [dur(s) for s in tracer.named("boolquery.kernel")]),
        "session.start_s": extra["session_s"],
        # a mean: the event log keeps whole milliseconds, so a median
        # of these waits reads the same on most runs
        "session.task_wait_ms": statistics.fmean([
            st["launch"] - st["submit"] for st in req_stages
            if st["launch"] is not None and st["submit"] is not None
        ] or [0.0]),
        "segments.delta_write_ms": median(
            [dur(s) for s in tracer.named("segments.delta_write")]),
        "segments.tombstone_write_ms": median(
            [dur(s) for s in tracer.named("segments.tombstone_write")]),
        "segments.pack_s": build["pack_s"],
        "segments.shuffle_mb": sum(s["shuffle_write"] for s in pack) / 1e6,
        "segments.bytes_per_doc": extra["segments_bytes"] / wl["n_docs"],
        "refresh.repack_s": median([dur(s) / 1000.0 for s in repack]),
        "refresh.bytes_rewritten": float(writes["bytes_rewritten"]),
        "postings.materialize_s": build["materialize_s"],
        "postings.shuffle_mb": sum(s["shuffle_write"] for s in mat) / 1e6,
        "postings.spill_mb": sum(s["spill"] for s in mat) / 1e6,
        "textproc.udf_stage_s": sum(
            s["run_ms"] for s in mat if s["python"]) / 1000.0,
        "trace.overhead_ms": median(lat_t) - median(lat_u),
    }


def blocks_decoded(svc, reqs: list[dict], records: list[dict],
                   probes: dict[str, str]) -> dict[str, float]:
    """Share of compressed blocks the WAND kernels decode, replayed by
    `explain` (search_packed_metrics) outside the timed window: over the
    window's first distinct bm25 searches, and over the two probe
    shapes."""
    sample, seen = [], set()
    for rec in records:
        req = reqs[rec["i"]]
        if req["kind"] != "search" or req["mode"] != "bm25":
            continue
        key = (req["query"], req["conjunctive"])
        if key not in seen:
            seen.add(key)
            sample.append(key)
        if len(sample) == 5:
            break

    def pct(pairs):
        dec = tot = 0
        for q, conj in pairs:
            ex = svc.explain(q, conjunctive=conj)
            dec += ex["n_blocks_decoded"]
            tot += ex["n_blocks"]
        return 100.0 * dec / tot if tot else 0.0

    return {
        "sample": pct(sample),
        "common": pct([(probes["common"], False)]),
        "rare_or_common": pct([(probes["rare_or_common"], False)]),
    }


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run(args, settings: dict, work: Path) -> tuple[dict, dict]:
    import gen
    import tracing

    wl = WORKLOADS[args.workload]
    spark, session_s = start_spark(settings, work, bool(args.trace))
    try:
        return _run(spark, session_s, args, settings, work, wl, gen, tracing)
    finally:
        stop_spark(spark)


def _start_workers(batches):
    import searchengine_spark.functions.udfs  # noqa: F401

    yield from batches


class Phases:
    """Wall seconds of the run's successive phases, for the detail line."""

    def __init__(self):
        self.times: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        t = time.perf_counter()
        self.times[name] = round(t - self._t, 3)
        self._t = t


def _run(spark, session_s, args, settings, work, wl, gen, tracing):
    from searchengine_spark.schemas import DOCS_SCHEMA

    n = wl["n_docs"]
    phases = Phases()
    if wl["corpus"] == "webtext":
        docs_pdf = gen.webtext_docs(args.seed, n)
        reqs = gen.webtext_requests(args.seed, docs_pdf, STREAM_LEN)
        block = gen.WEBTEXT_BLOCK
    else:
        docs_pdf = gen.zipf_docs(args.seed, n)
        reqs = gen.zipf_requests(args.seed, n, STREAM_LEN)
        block = gen.ZIPF_BLOCK
    phases.mark("generate")
    text_bytes = int(docs_pdf["text"].str.encode("utf-8").str.len().sum())
    # landing the input through Python workers starts them (and their
    # imports) here, so the build is not timed with their start-up
    spark.createDataFrame(docs_pdf, schema=DOCS_SCHEMA).mapInPandas(
        _start_workers, DOCS_SCHEMA).write.parquet(str(work / "docs"))
    docs = spark.read.parquet(str(work / "docs"))
    phases.mark("land")

    tracer = tracing.Tracer(spark.sparkContext, enabled=False)
    probes = gen.pruning_probes(wl["corpus"], docs_pdf)
    svc, base, build, opens = setup(spark, docs, work, wl)
    idx_paths = [f"{base}/idx", f"{base}/segments"] + (
        [f"{base}/possegs"] if wl["positional"] else [])
    segments_bytes = dir_bytes(f"{base}/segments")
    index_bytes = dir_bytes(*idx_paths)
    phases.mark("setup")

    # The stream's first block warms the service up untimed: the first
    # calls of each kind pay one-off costs (the positional cache loads
    # on the first phrase query), and latencies keep falling for a few
    # seconds after. A page size one above the stream's keeps these
    # requests out of the response cache the window uses.
    warmup, _ = run_window(
        svc, tracer, [dict(r, limit=r["limit"] + 1) for r in reqs[:block]],
        wl["clients"], 0.0, block)
    reqs = reqs[block:]
    cached = cached_mb(spark)
    phases.mark("warm")

    # a traced run splits its time between an untraced and a traced
    # window over the same requests; the gap is the tracing overhead
    seconds = args.seconds / 2 if args.trace else args.seconds
    records, elapsed = run_window(svc, tracer, reqs, wl["clients"], seconds,
                                  block)
    windows, served = None, records
    if args.trace:
        svc._response_cache.clear()
        tracing.install_wrappers(tracer)
        tracer.enabled = True
        traced, _ = run_window(svc, tracer, reqs, wl["clients"], seconds,
                               block)
        tracer.enabled = False
        windows, served = (records, traced), records + traced
    served = warmup + served
    phases.mark("window")

    errors: list[str] = []
    errors += guarded(errors, "search check", check_searches,
                      spark, svc, base, reqs, records) or []
    errors += guarded(errors, "build check", check_build, spark, base) or []
    phases.mark("check")
    attempted = len(served) + N_CHECKS + 1
    failed_reqs = [r for r in served if not r["ok"]]
    lat = kind_latencies(records, reqs)
    detail = {
        "workload": args.workload, "seed": args.seed, "host": settings,
        "n_docs": n, "text_bytes": text_bytes,
        "session_s": session_s,
        "setup_reps_s": opens,
        "build": {k: v for k, v in build.items() if k != "walls"},
        "window_s": elapsed,
        "requests": {k: len(v) for k, v in lat.items()},
        "p50_ms": {k: median(v) for k, v in lat.items()},
        "search_ms": sorted(round(x) for x in lat.get("search", [])),
        "failed": {}, "errors": errors[:5],
        "first_failure": next((r["error"] for r in failed_reqs), None),
        "phases_s": phases.times,
        "blocks": block_summary(records, reqs, block),
    }
    for r in failed_reqs:
        detail["failed"][r["kind"]] = detail["failed"].get(r["kind"], 0) + 1

    if args.trace:
        blocks = guarded(errors, "block replay", blocks_decoded,
                         svc, reqs, records, probes) or {
            "sample": 0.0, "common": 0.0, "rare_or_common": 0.0}
        out = guarded(errors, "write path", write_path,
                      spark, tracer, svc, base, wl, docs_pdf, args.seed)
        if out is None:
            writes = {"runs": 0, "bytes_rewritten": 0, "ops": 1, "errors": []}
        else:
            svc, writes = out
        attempted += writes["ops"]
        errors += writes["errors"]
        detail["errors"] = errors[:5]
        svc.close()
        stop_spark(spark)
        stages = tracing.read_event_log(str(work / "events"))
        metrics = per_layer(
            tracer, stages, build, windows, wl, writes,
            {"reqs": reqs, "blocks": blocks, "session_s": session_s,
             "segments_bytes": segments_bytes},
        )
        # Spark jobs of the searches that ran any, without and with a
        # site filter
        ran = [s for s in tracer.named("endpoint.search") if s["jobs"]]
        detail["jobs_per_search"] = {
            name: median([s["jobs"] for s in ran
                          if bool(reqs[s["i"]]["site"]) == site])
            for name, site in (("no_site", False), ("site", True))
        }
    else:
        svc.close()
        searches = lat.get("search", [])
        metrics = {
            "setup_s": build["build_s"] + median(opens),
            "search_p50_ms": median(searches),
            "read_qps": sum(1 for r in records if r["ok"]) / elapsed,
            "index_bytes_per_text_byte": index_bytes / text_bytes,
            "cached_mb": cached,
        }
    failed = len(failed_reqs) + len(errors)
    result = {
        "correct": not errors and not failed_reqs,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": UNITS[k]}
            for k, v in metrics.items()
        },
    }
    return result, detail


UNITS = {
    # end to end (--trace 0)
    "setup_s": "s", "search_p50_ms": "ms", "read_qps": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "cached_mb": "MB",
    # per layer (--trace 1)
    "service.self_ms": "ms", "service.jobs_per_search": "count",
    "service.stages_per_search": "count", "service.cache_hit_pct": "%",
    "service.jobs_per_write": "count", "service.index_page_ms": "ms",
    "service.delete_page_ms": "ms", "service.reopen_ms": "ms",
    "search.analyze_ms": "ms", "wand.kernel_ms": "ms",
    "wand.jobs_per_kernel": "count", "wand.blocks_decoded_pct": "%",
    "wand.blocks_decoded_pct_common": "%",
    "wand.blocks_decoded_pct_rare_or_common": "%",
    "wand.runs_per_search": "count", "positional.kernel_ms": "ms",
    "positional.pack_s": "s", "boolquery.kernel_ms": "ms",
    "session.start_s": "s", "session.task_wait_ms": "ms",
    "segments.delta_write_ms": "ms", "segments.tombstone_write_ms": "ms",
    "segments.pack_s": "s", "segments.shuffle_mb": "MB",
    "segments.bytes_per_doc": "bytes/doc", "refresh.repack_s": "s",
    "refresh.bytes_rewritten": "bytes", "postings.materialize_s": "s",
    "postings.shuffle_mb": "MB", "postings.spill_mb": "MB",
    "textproc.udf_stage_s": "s", "trace.overhead_ms": "ms",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "searchengine_spark" / "service.py").is_file():
        print(f"perfbench: no searchengine_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        settings = host_settings(work)
        result, detail = run(args, settings, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
