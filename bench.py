#!/usr/bin/env python
"""Benchmark harness — last stdout line is ONE compact JSON summary.

Artifact encoding (VERDICT r4 #1): the driver keeps only a bounded tail
of stdout, so the full detail object (per-stage timings, noise-protocol
prose, raw probe numbers) is printed first AND written to
BENCH_DETAIL.json, while the LAST line is a compact (<2 KB) summary that
always fits the tail buffer intact.

Measures the north-rule metric (BASELINE.json): index-build docs/sec for
the crawl→extract→lemmatize→index→pack pipeline, plus per-query latency
(p50/p95) for the FULL reference query set (incl. site filter, offset
pagination, legacy scoring) over the packed index (block-max WAND +
BM25), plus a handful of headline contract queries on the driver's
`documents` table.

Noise protocol (VERDICT r2): this VM shows multi-second stall episodes
that inflate single-pass timings ~2× uniformly. Every repeatable query
is therefore timed min-of-N (default N=3, BENCH_RUNS to override) — the
minimum is the run least polluted by exogenous stalls. The heavy
pipeline queries (minhash, IVF, clean-corpus) run AFTER the
r1-comparable set in registration order, so they cannot contaminate the
cross-round-comparable numbers via GC/cache pressure in the shared
session. One-shot stages (corpus gen) are flagged as single-pass.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default 32)
  BENCH_WEB_DOCS      override web-corpus size (default sf * 1e6)
  BENCH_RUNS          min-of-N repetitions per query (default 3)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def pctl(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = min(len(xs) - 1, int(round(q * (len(xs) - 1))))
    return xs[i]


# ---- host-phase calibration probe (VERDICT r3 #1) ----------------------
# This VM shows sustained host-level degradation episodes (identical
# JVM startup: 15 s good phase vs 846 s bad; single-pass timings move
# 2-4x uniformly across unchanged code). Each bench run therefore
# self-reports its phase with three fixed-work kernels, timed min-of-3:
#   cpu_md5:    200 MB through Python hashlib.md5 (single-core CPU +
#               hot-cache memory; no Spark, no disk)
#   mem_commit: commit+touch 512 MB of FRESH pages — the axis the
#               other two can't see (they run in already-committed
#               memory); this is the mode that slows JVM heap
#               pretouch, Python worker spawn, and page-cache growth
#               under shuffle/parquet writes (observed 13 MB/s vs
#               multi-GB/s on this box)
#   jvm_sum:    sum(range(0, 2*10^8)) inside Spark whole-stage codegen
#               (JVM + scheduler + multicore)
# Reference values are the best idle-box measurements recorded on this
# hardware (see BASELINE.md "Host phase calibration"); a probe is IN
# BAND when within PROBE_BAND x the reference. If the start probe is
# out of band the harness waits (bounded) for the phase to pass, and
# if the phase degrades mid-run (end probe out of band) the headline
# stages — build/pack AND the wand/service latency sets — are
# re-measured once after the wait protocol, so the docs/sec and
# query-latency numbers are attributable to an in-band phase whenever
# the phase recovers within the wait budget.
PROBE_REF_CPU_MD5 = 0.36   # sec, idle-box best (min-of-3)
PROBE_REF_JVM_SUM = 0.35   # sec, idle-box best (min-of-3), local[32]
# Third kernel, added after a run whose cpu_md5/jvm_sum probes were
# in band while the host was in a memory-COMMIT degradation phase
# (fresh 2 GB commit+touch measured 13 MB/s; the first two kernels
# run in already-committed memory so they can't see that mode —
# it hits exactly the phases that matter: JVM heap pretouch, Python
# worker spawn, page-cache growth during shuffle/parquet writes).
# Kernel: commit+touch 512 MB of fresh pages, min-of-3.
PROBE_REF_MEM_COMMIT = 0.25  # sec, idle-box best (min-of-3)
PROBE_BAND = 2.0
PROBE_BAND_MEM = 4.0       # commit bandwidth is the noisiest axis
PROBE_WAIT_TRIES = 8       # bounded wait: 8 probes x 90 s
PROBE_WAIT_SEC = 90


def _probe_cpu_md5() -> float:
    import hashlib

    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        b = b"x" * 1_000_000
        h = hashlib.md5()
        for _ in range(200):
            h.update(b)
        best = min(best, time.monotonic() - t0)
    return best


def _probe_mem_commit() -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        b = bytearray(512 * 1024 * 1024)   # fresh commit every pass
        for i in range(0, len(b), 4096):   # touch every page
            b[i] = 1
        best = min(best, time.monotonic() - t0)
        del b
    return best


def _probe_jvm_sum(spark) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        spark.range(0, 200_000_000).groupBy().sum("id").collect()
        best = min(best, time.monotonic() - t0)
    return best


def run_probe(spark) -> dict:
    cpu = _probe_cpu_md5()
    mem = _probe_mem_commit()
    jvm = _probe_jvm_sum(spark)
    return {
        "cpu_md5_sec": round(cpu, 4),
        "mem_commit_sec": round(mem, 4),
        "jvm_sum_sec": round(jvm, 4),
        "in_band": bool(
            cpu <= PROBE_BAND * PROBE_REF_CPU_MD5
            and jvm <= PROBE_BAND * PROBE_REF_JVM_SUM
            and mem <= PROBE_BAND_MEM * PROBE_REF_MEM_COMMIT
        ),
    }


def wait_for_in_band(spark) -> tuple[dict, int]:
    """Probe; if out of band, re-probe up to PROBE_WAIT_TRIES times at
    PROBE_WAIT_SEC intervals. Returns (last probe, attempts used)."""
    p = run_probe(spark)
    tries = 0
    while not p["in_band"] and tries < PROBE_WAIT_TRIES:
        time.sleep(PROBE_WAIT_SEC)
        tries += 1
        p = run_probe(spark)
    return p, tries


def blocks_decoded(segments, term_stats, n_docs, avgdl, query, k,
                   conjunctive, df_map) -> tuple[int, int]:
    """(blocks decoded, blocks total) summed over the shard trailers of
    one top-k WAND pass (index/wand.py kernel output contract)."""
    from searchengine_spark.index import wand
    from searchengine_spark.operators.search import lemmatize_query

    terms = wand._resolve_terms(
        term_stats, n_docs, lemmatize_query(query), 0.95, df_map
    )
    if not terms:
        return 0, 0
    rows = [r for r in wand._wand_rows(
        segments, terms, None, n_docs, avgdl, k, conjunctive
    )[0] if r["is_trailer"]]
    return (sum(r["n_blocks_decoded"] for r in rows),
            sum(r["n_blocks"] for r in rows))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    from pyspark.sql import functions as F

    from searchengine_spark import contract
    from searchengine_spark.index import wand
    from searchengine_spark.index.segments import (
        build_segments,
        read_packed,
        write_segments,
    )
    from searchengine_spark.operators import search as rsearch
    from searchengine_spark.operators.postings import materialize_index
    from searchengine_spark.session import get_spark
    from searchengine_spark.sources.corpus import write_corpus
    from tests.queries import QUERIES

    spark = get_spark("bench", master=f"local[{cpus}]")
    tmp = tempfile.mkdtemp(prefix="bench_")
    queries: dict[str, float] = {}
    t_total0 = time.monotonic()

    def timed(fn, n=runs):
        """min-of-n wall time of fn() — see noise protocol above."""
        best = float("inf")
        for _ in range(n):
            t0 = time.monotonic()
            fn()
            best = min(best, time.monotonic() - t0)
        return best

    def timed_converging(fn, n_min=2, n_max=4, tol=0.15):
        """min wall time of fn(), repeated until it stops improving.

        The heavy build/pack stages show a cold->warm->steady ramp
        (page cache, JIT, python-worker pool: measured 65 s -> 5.8 s
        -> 13.7 s on identical code) PLUS multi-second host stall
        windows; a fixed min-of-2 can land both passes inside a slow
        window and record a 3-4x-off number. Repeat (bounded by
        ``n_max``) while each new pass still improves the best by
        > ``tol`` — converges in 2 passes at steady state, spends the
        extra passes exactly when the measurement is unsettled."""
        best = float("inf")
        for i in range(n_max):
            t0 = time.monotonic()
            fn()
            t = time.monotonic() - t0
            improved = t < best * (1.0 - tol)
            best = min(best, t)
            if i + 1 >= n_min and not improved:
                break
        return best

    # ---- north-star pipeline: web corpus -> packed index ------------------
    n_web = int(os.environ.get("BENCH_WEB_DOCS", str(max(2000, int(sf * 1e6)))))
    corpus_path = f"{tmp}/docs"

    # untimed Python-worker prewarm: the first Arrow job pays one-off
    # worker-pool startup (32 × import pandas/numpy; 80 s in a bad
    # hypervisor phase) that a persistent-executor cluster never pays
    # per job — same protocol scripts/scaling.py documents ("python
    # workers pre-warmed"). Without this the whole one-off lands inside
    # the gen_corpus number.
    def _ident(it):
        yield from it

    spark.range(0, cpus * 4, 1, cpus).mapInPandas(_ident, "id long").count()

    # phase calibration: self-report the host phase in-band/out-of-band
    # and (bounded) wait out a degraded phase before timing anything
    probe_start, start_tries = wait_for_in_band(spark)

    t0 = time.monotonic()
    write_corpus(spark, n_web, corpus_path)
    queries["gen_corpus"] = time.monotonic() - t0  # single-pass (setup)

    docs = spark.read.parquet(corpus_path)
    index = None

    def _build():
        nonlocal index
        index = materialize_index(spark, docs, f"{tmp}/idx", use_html=True)

    # converging min (2-4 passes): one repetition bounds stall
    # pollution; extra passes run only while the number is unsettled
    t_build = timed_converging(_build)
    queries["build_index"] = t_build

    n_docs, avgdl = rsearch.corpus_constants(index.doc_stats)

    def _pack():
        segs = build_segments(index, n_docs, avgdl)
        write_segments(segs, f"{tmp}/segments")

    t_pack = timed_converging(_pack)
    queries["pack_segments"] = t_pack

    segments = read_packed(spark, f"{tmp}/segments").cache()
    segments.rows.count()
    term_stats = index.term_stats.cache()
    term_stats.count()
    doc_stats = index.doc_stats.cache()
    doc_stats.count()
    # a query server keeps term stats hot; collect once, serve all queries
    df_map = {r["term"]: r["df"] for r in term_stats.collect()}
    n_shards = int(segments.rows.agg(F.max("shard")).collect()[0][0]) + 1

    # ---- positional layer: build + one packed phrase query ----------------
    from searchengine_spark.index.positional import (
        build_positional_segments,
        phrase_search_packed,
        write_positional_segments,
    )
    from searchengine_spark.operators.postings import prepare_docs

    def _pack_pos():
        prepared = prepare_docs(docs, use_html=True).select(
            "doc_id", "lemmas"
        )
        write_positional_segments(
            build_positional_segments(prepared, n_shards), f"{tmp}/possegs"
        )

    queries["pack_positional"] = timed_converging(_pack_pos)
    pos_segments = read_packed(spark, f"{tmp}/possegs").cache()
    pos_segments.rows.count()
    queries["phrase_packed"] = timed(
        lambda: phrase_search_packed(
            spark, pos_segments, "быстрый поиск"
        ).collect()
    )

    # ---- static-rank layer: PageRank over the extracted link graph --------
    # extraction (map-only) + edge resolve (1 shuffle) + 3 exact-integer
    # PageRank iterations (2 shuffles each); lands <tmp>/staticrank so
    # the SearchService below serves blended ranking from it
    from searchengine_spark.operators.linkgraph import (
        build_static_rank,
        write_static_rank,
    )

    def _static_rank():
        write_static_rank(build_static_rank(docs, n_iter=3), tmp)

    queries["static_rank"] = timed_converging(_static_rank)

    # ---- query latency: FULL reference query set over the packed index ----
    def _time_wand_set() -> list[float]:
        """min-of-N latency per reference query; re-runnable so the
        end-of-run phase protocol can re-measure a polluted set."""
        out = []
        for qid, qtext, site, offset, limit, mode, conj in QUERIES:
            out.append(timed(
                lambda: wand.search_packed(
                    spark, segments, term_stats, n_docs, avgdl, qtext,
                    k=limit, conjunctive=conj, mode=mode, site=site,
                    offset=offset, doc_stats=doc_stats, n_shards=n_shards,
                    df_map=df_map,
                ).collect()
            ))
        return out

    lat = _time_wand_set()
    for (qid, *_), dt in zip(QUERIES, lat):
        queries[f"wand_q{qid}"] = dt

    # ---- pruning effectiveness: block-max WAND observability ---------------
    # blocks actually decompressed vs total across the reference set's
    # disjunctive + conjunctive shapes (index/wand.py trailer counters)
    # — the measurable effect of essential-list + aligned block-max
    # pruning and lazy block lookup
    dec = tot = 0
    for qid, qtext, site, offset, limit, mode, conj in QUERIES:
        if mode != "bm25" or site is not None:
            continue
        d, t = blocks_decoded(segments, term_stats, n_docs, avgdl, qtext,
                              offset + limit, conj, df_map)
        dec += d
        tot += t
    blocks_decoded_pct = round(100.0 * dec / tot, 2) if tot else 0.0

    # ---- warm-server latency: the serving tier (service.py) ---------------
    # The per-request number a deployed engine shows: SearchService keeps
    # segments/meta/df_map hot and answers each request with ONE fused
    # WAND kernel pass (top-k + pre-pagination count together). Timed
    # over the same 14-query reference set as the raw packed path above,
    # so wand_q* vs service_* isolates the serving-layer overhead
    # (response assembly, meta join) from the kernel.
    from searchengine_spark.service import SearchService

    # docs_text must be a MATERIALIZED table: a deployment serves
    # snippets from the landed text column, it does not re-run the
    # HTML-extract UDF over the corpus per request (an unmaterialized
    # prepare_docs plan here made every snippets call re-extract all
    # n_web docs — 5-10 s of pure re-computation per request)
    prepare_docs(docs, use_html=True).select("doc_id", "text") \
        .write.mode("overwrite").parquet(f"{tmp}/docs_text")
    # cache_responses=False: min-of-N must measure the kernels, not
    # front-tier cache hits (the hit path gets its own stage below)
    svc = SearchService(
        spark, tmp,
        docs_text=spark.read.parquet(f"{tmp}/docs_text"),
        cache_responses=False,
    )
    def _time_service_set() -> list[float]:
        return [
            timed(lambda: svc.search(qtext, site=site, offset=offset,
                                     limit=limit, mode=mode,
                                     conjunctive=conj))
            for qid, qtext, site, offset, limit, mode, conj in QUERIES
        ]

    svc_lat = _time_service_set()
    queries["service_search_median"] = pctl(svc_lat, 0.50)
    queries["service_snippets"] = timed(
        lambda: svc.search("быстрый поиск слова", snippets=True)
    )
    queries["service_phrase"] = timed(lambda: svc.phrase("быстрый поиск"))
    queries["service_statistics"] = timed(lambda: svc.statistics())
    queries["service_boolean"] = timed(
        lambda: svc.boolean(
            "(быстрый OR индекс) AND поиск AND NOT данные", limit=20
        )
    )
    queries["service_suggest"] = timed(lambda: svc.suggest("поис"))
    queries["service_blend"] = timed(
        lambda: svc.search("быстрый поиск слова", limit=20, blend=1.0)
    )
    # r4 retrieval surface: host collapsing (first call builds the
    # cached per-generation site map — report warm latency, the
    # serving shape), facet counts, term^w boosts, synonym expansion
    svc.search("быстрый поиск", limit=20, collapse=2, conjunctive=False)
    queries["service_collapse"] = timed(
        lambda: svc.search("быстрый поиск", limit=20, collapse=2,
                           conjunctive=False)
    )
    queries["service_facets"] = timed(
        lambda: svc.facets("быстрый поиск", conjunctive=False)
    )
    queries["service_boosted"] = timed(
        lambda: svc.search("быстрый^3 поиск слова", limit=20)
    )
    # r5: field-weighted BM25F served from the packed per-field TF
    # layer (title stream + field-weighted block-max bounds)
    queries["service_bm25f"] = timed(
        lambda: svc.search("быстрый поиск слова", limit=20, mode="bm25f",
                           conjunctive=False)
    )
    from searchengine_spark.operators.search import lemmatize_query as _lq

    _syn = {t: _lq("медленный") for t in _lq("быстрый")}
    queries["service_synonyms"] = timed(
        lambda: svc.search(
            "быстрый поиск", limit=20, conjunctive=False, synonyms=_syn,
        )
    )
    # front-tier response-cache hit latency (pure driver-side path)
    svc._cache_responses = True
    svc.search("быстрый поиск слова", limit=20)  # populate
    queries["service_cache_hit"] = timed(
        lambda: svc.search("быстрый поиск слова", limit=20)
    )
    svc._cache_responses = False
    svc._response_cache.clear()
    # svc stays open: the end-of-run phase protocol may re-measure the
    # service set (closed right before the final JSON below)

    # relational-path flagship query for comparison (one warmup run —
    # a query server serves from a warm session)
    rsearch.search(spark, index, "данные", k=20,
                   constants=(n_docs, avgdl)).collect()
    queries["relational_bm25"] = timed(
        lambda: rsearch.search(spark, index, "быстрый поиск слова", k=20,
                               constants=(n_docs, avgdl)).collect()
    )

    # ---- pruning payoff at a realistic dictionary shape (VERDICT r4 #5) ----
    # The webtext word pools give every posting list a couple of
    # blocks, so the headline wand_blocks_decoded_pct sits near 100
    # regardless of the pruning machinery. This stage runs the SAME
    # kernels over a Zipf(s=1) synthetic-vocabulary corpus
    # (sources/corpus.zipf_corpus_df: genuinely rare terms next to
    # many-dozen-block common lists — the dictionary shape block-max
    # pruning exists for) and reports decoded% for the query shapes it
    # targets: rare∧common (lazy candidate lookup) and rare∨common
    # top-k (θ-seed + essential-list cut + aligned block bounds).
    from searchengine_spark.operators.postings import build_index
    from searchengine_spark.sources.corpus import zipf_corpus_df

    n_zipf = int(os.environ.get(
        "BENCH_ZIPF_DOCS", str(max(10_000, min(30_000, n_web // 3)))
    ))
    zdocs = zipf_corpus_df(spark, n_zipf, vocab=20_000).cache()
    zdocs.count()
    zidx = build_index(zdocs, use_html=False)
    for t_ in (zidx.postings, zidx.doc_stats, zidx.term_stats):
        t_.cache().count()
    zn, zavgdl = rsearch.corpus_constants(zidx.doc_stats)
    t0 = time.monotonic()
    # 4 shards: rare terms keep >= k postings per shard, so the θ-seed
    # is live (the per-shard seed is provably 0 when the shard slice
    # of the shortest list has < k postings — over-sharding a small
    # corpus turns pruning off, which is a TUNING fact, not a bug)
    write_segments(build_segments(zidx, zn, zavgdl, n_shards=4),
                   f"{tmp}/zipfseg")
    queries["zipf_pack"] = time.monotonic() - t0  # single-pass (setup)
    zseg = read_packed(spark, f"{tmp}/zipfseg").cache()
    zseg.rows.count()
    zdfm = {r["term"]: r["df"] for r in zidx.term_stats.collect()}
    zcand = sorted(zdfm.items(), key=lambda kv: (-kv[1], kv[0]))

    def _pick(target: int) -> str:
        # deterministic df-targeted term choice (ties: term asc)
        return min(zcand, key=lambda kv: (abs(kv[1] - target), kv[0]))[0]

    z_common = _pick(int(0.75 * zn))   # many-block list, low idf
    z_rare = _pick(max(40, zn // 375))  # high idf; >= k per shard
    zipf_pcts: dict[str, float] = {}
    zdec = ztot = 0
    for zname, zq, zconj, in_headline in (
        ("zipf_rare_and_common", f"{z_rare} {z_common}", True, True),
        ("zipf_rare_or_common", f"{z_rare} {z_common}", False, True),
        ("zipf_common_topk", z_common, False, False),
    ):
        queries[zname] = timed(
            lambda: wand.search_packed(
                spark, zseg, zidx.term_stats, zn, zavgdl, zq, k=10,
                conjunctive=zconj, df_map=zdfm,
            ).collect()
        )
        d, t = blocks_decoded(zseg, zidx.term_stats, zn, zavgdl, zq, 10,
                              zconj, zdfm)
        zipf_pcts[zname] = round(100.0 * d / t, 2) if t else 0.0
        if in_headline:
            zdec += d
            ztot += t
    # headline number = the two shapes pruning exists for; the
    # single-common-term pct is reported alongside for honesty (its
    # block maxima are flat, so θ can cut less there)
    zipf_blocks_decoded_pct = (
        round(100.0 * zdec / ztot, 2) if ztot else 0.0
    )
    zseg.rows.unpersist()
    zdocs.unpersist()
    for t_ in (zidx.postings, zidx.doc_stats, zidx.term_stats):
        t_.unpersist()

    # ---- headline contract queries on the driver tables --------------------
    # r1-comparable set FIRST, heavy pipeline queries LAST (isolation)
    light = (
        "q_bm25_conjunctive",
        "q_doc_frequency",
        "q_join_agg_revenue",
        "q_search_snippets",
    )
    heavy = (
        "q_dedup_minhash_lsh",
        "q_ann_cosine_topk",
        "q_ann_ivf",
        "q_clean_corpus",
        "q_training_mixture",
    )
    reg = contract.queries()
    for name in light + heavy:
        fn = reg.get(name)
        if fn is None:
            continue
        n = runs if name in light else min(runs, 2)
        queries[name] = timed(lambda: fn(spark, sf_dir).collect(), n=n)

    # SECOND temporally-separated window for the latency sets,
    # unconditional: a degraded host episode that starts AFTER the
    # start probe and ends BEFORE the end probe is invisible to both,
    # yet poisons all N repetitions of the queries that ran inside it
    # (observed: wand_q9/q10 recorded 6x their true latency with both
    # probes in band). Per-query min across two windows ~minutes apart
    # survives any episode shorter than the gap — at ~30 s extra cost.
    lat = [min(a, b) for a, b in zip(lat, _time_wand_set())]
    for (qid, *_), dt in zip(QUERIES, lat):
        queries[f"wand_q{qid}"] = dt
    svc_lat = [min(a, b) for a, b in zip(svc_lat, _time_service_set())]
    queries["service_search_median"] = pctl(svc_lat, 0.50)

    # end-of-run probe; if either probe was out of band, wait for the
    # phase to pass and re-measure the headline stages once — build/
    # pack AND the wand/service latency sets (a mid-run degradation
    # episode otherwise pollutes query_p95 even under min-of-N: all N
    # repetitions of one query land inside the same episode) — so
    # BENCH reports in-band numbers whenever the phase recovers
    probe_end = run_probe(spark)
    retry_tries = 0
    build_remeasured = False
    if not (probe_start["in_band"] and probe_end["in_band"]):
        probe_end, retry_tries = wait_for_in_band(spark)
        if probe_end["in_band"]:
            # query sets FIRST: they read the cached segments frames,
            # whose file listings still point at the current part
            # files — re-running _build/_pack overwrites those dirs,
            # and a cache eviction mid-remeasure would then surface as
            # FileNotFound on the stale listing
            lat = [min(a, b) for a, b in zip(lat, _time_wand_set())]
            for (qid, *_), dt in zip(QUERIES, lat):
                queries[f"wand_q{qid}"] = dt
            svc_lat = [
                min(a, b) for a, b in zip(svc_lat, _time_service_set())
            ]
            queries["service_search_median"] = pctl(svc_lat, 0.50)
            t_build = min(t_build, timed(_build, n=1))
            t_pack = min(t_pack, timed(_pack, n=1))
            queries["build_index"] = t_build
            queries["pack_segments"] = t_pack
            build_remeasured = True
    svc.close()

    total = time.monotonic() - t_total0
    shutil.rmtree(tmp, ignore_errors=True)

    out = {
        "metric": "index-build docs/sec + query p95 (packed BM25 WAND)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in queries.items()},
        "sf": sf,
        "cpus": cpus,
        "web_docs": n_web,
        "build_docs_per_sec": round(n_web / t_build, 1),
        "pack_docs_per_sec": round(n_web / t_pack, 1),
        "phase_probe": {
            "ref": {
                "cpu_md5_sec": PROBE_REF_CPU_MD5,
                "jvm_sum_sec": PROBE_REF_JVM_SUM,
                "mem_commit_sec": PROBE_REF_MEM_COMMIT,
                "band": PROBE_BAND,
                "band_mem": PROBE_BAND_MEM,
            },
            "start": probe_start,
            "start_wait_tries": start_tries,
            "end": probe_end,
            "end_wait_tries": retry_tries,
            "build_remeasured_in_band": build_remeasured,
        },
        "query_p50_sec": round(pctl(lat, 0.50), 4),
        "query_p95_sec": round(pctl(lat, 0.95), 4),
        "service_p50_sec": round(pctl(svc_lat, 0.50), 4),
        "service_p95_sec": round(pctl(svc_lat, 0.95), 4),
        "wand_blocks_decoded_pct": blocks_decoded_pct,
        "zipf_blocks_decoded_pct": zipf_blocks_decoded_pct,
        "zipf_blocks_decoded_by_query": zipf_pcts,
        "zipf_terms": {"common": z_common, "rare": z_rare,
                       "common_df": zdfm[z_common], "rare_df": zdfm[z_rare],
                       "docs": n_zipf},
        "noise_protocol": (
            f"min-of-{runs} per query (build/pack converge-min "
            "2-4 passes — repeat while a pass improves the best by "
            ">15%, absorbing the cold->warm ramp AND slow-window "
            "pairs that defeat a fixed min-of-2; heavy min-of-2, "
            "gen_corpus single-pass after an untimed Python-worker "
            "prewarm job); heavy pipeline queries run after "
            "the r1-comparable set; the dedup/clean/mixture entries "
            "share the per-session persisted minhash-signature cache "
            "(contract_pipeline._doc_sigs), so their min-of-N reflects "
            "a warm pipeline session — signatures are computed once, "
            "on the first timed pass; phase_probe self-reports the "
            "host phase (fixed-work CPU + JVM kernels vs idle-box "
            "reference) with a bounded wait-then-remeasure protocol "
            "for the headline build/pack stages and the wand/service "
            "latency sets; the wand/service sets additionally get an "
            "UNCONDITIONAL second measurement window at end-of-run "
            "(per-query min across two windows minutes apart — a "
            "mid-run degraded episode between two in-band probes "
            "poisoned all 3 repetitions of adjacent queries once)"
        ),
    }
    # latest two-cluster-size scaling evidence (scripts/scaling.py →
    # SCALING.json; see BASELINE.md "Measured results")
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "SCALING.json")
    try:
        with open(scaling_path) as f:
            s = json.load(f)
        # headline = the CURRENT code's most recent official run when
        # recorded; the best historically-attested number rides
        # alongside (SCALING.json holds the full per-pass history +
        # same-day phase-control analysis)
        cur = s.get("build_scaling_efficiency_current_code_r5")
        out["scaling_efficiency_n_to_4n"] = (
            cur if cur is not None else s["build_scaling_efficiency"]
        )
        out["scaling_efficiency_best_attested"] = s[
            "build_scaling_efficiency"
        ]
        out["scaling_levels_cores"] = sorted(int(k) for k in s["levels"])
        out["scaling_docs"] = s["corpus"]["docs"]
    except (OSError, KeyError, ValueError):
        pass

    # Truncation-proof artifact encoding (VERDICT r4 #1): the driver
    # captures a bounded TAIL of stdout, so the FULL detail object
    # (per-stage timings + noise-protocol prose + raw probes) is
    # emitted FIRST and also written to BENCH_DETAIL.json, while the
    # LAST line is a compact (<2 KB) summary carrying the headline
    # numbers and a boolean probe attestation — always complete inside
    # the tail buffer.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(out, f)
    except OSError:
        pass
    print(json.dumps(out))

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "sf": sf,
        "cpus": cpus,
        "web_docs": n_web,
        "build_docs_per_sec": out["build_docs_per_sec"],
        "pack_docs_per_sec": out["pack_docs_per_sec"],
        "query_p50_sec": out["query_p50_sec"],
        "query_p95_sec": out["query_p95_sec"],
        "service_p50_sec": out["service_p50_sec"],
        "service_p95_sec": out["service_p95_sec"],
        "wand_blocks_decoded_pct": blocks_decoded_pct,
        "probe_in_band": {
            "start": bool(probe_start.get("in_band")),
            "end": bool(probe_end.get("in_band")),
        },
        "detail": "BENCH_DETAIL.json",
    }
    for k in ("scaling_efficiency_n_to_4n",
              "scaling_efficiency_best_attested", "scaling_levels_cores",
              "scaling_docs", "zipf_blocks_decoded_pct"):
        if k in out:
            compact[k] = out[k]
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 2048:
        # drop the slowest-to-matter detail first, never the headline
        compact["queries"] = {
            k: round(v, 3) for k, v in sorted(
                queries.items(), key=lambda kv: -kv[1])[:24]}
        compact["queries_truncated_see_detail"] = True
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
