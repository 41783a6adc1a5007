"""BM25F (operators/fielded.py): reduction to classic BM25 in the
single-field case, the title-weighting property, and input validation.
(Cross-engine parity vs DuckDB is contract.q_bm25f_title, exercised at
three SFs by test_entry_contract / verify_contract.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.fielded import bm25f_scores
from searchengine_spark.operators.search import bm25_score_py


def _tf_len(spark, rows):
    """rows: (doc_id, [tokens]) → (tf, lens) frames."""
    toks = spark.createDataFrame(
        [(d, t) for d, ts in rows for t in ts], "doc_id long, term string"
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    return tf, lens


DOCS = [
    (1, ["spark", "join", "scan", "row", "row"]),
    (2, ["join", "scan", "row", "row", "filter"]),
    (3, ["spark", "spark", "merge", "row", "group", "filter"]),
    (4, ["hash", "merge", "window", "order"]),
]


def test_single_field_reduces_to_bm25(spark):
    """With one field at w=1, b=0.75, k1=1.2 BM25F is algebraically
    classic BM25: tf~·(1+k1)/(k1+tf~) = tf·(1+k1)/(tf + k1·B)."""
    tf, lens = _tf_len(spark, DOCS)
    got = {
        r["doc_id"]: (r["score"], r["n_hit"])
        for r in bm25f_scores(
            {"body": tf}, {"body": lens}, {"body": 1.0}, {"body": 0.75},
            ["spark", "join"],
        ).collect()
    }
    dls = {d: len(ts) for d, ts in DOCS}
    n = len(DOCS)
    avgdl = sum(dls.values()) / n
    dfm = {"spark": 2, "join": 2}
    for d, ts in DOCS:
        want = sum(
            bm25_score_py(ts.count(t), dfm[t], dls[d], n, avgdl)
            for t in ("spark", "join") if t in ts
        )
        hits = sum(1 for t in ("spark", "join") if t in ts)
        if hits == 0:
            assert d not in got
        else:
            assert got[d][0] == pytest.approx(want, rel=1e-12)
            assert got[d][1] == hits


def test_title_hit_outranks_body_hit(spark):
    """Two docs, same body; one carries the query term in its title.
    With title weight > 0 the titled doc must score strictly higher —
    and the title's SHORT length must not be diluted by the body's
    normalizer (the defining BM25F property)."""
    body = [(1, ["alpha", "beta", "gamma"]), (2, ["alpha", "beta", "gamma"])]
    title = [(1, ["spark"]), (2, ["other"])]
    btf, blen = _tf_len(spark, body)
    ttf, tlen = _tf_len(spark, title)
    scores = {
        r["doc_id"]: r["score"]
        for r in bm25f_scores(
            {"title": ttf, "body": btf}, {"title": tlen, "body": blen},
            {"title": 2.0, "body": 1.0}, {"title": 0.5, "body": 0.75},
            ["spark", "alpha"],
        ).collect()
    }
    assert scores[1] > scores[2]


def test_mismatched_field_keys_raise(spark):
    tf, lens = _tf_len(spark, DOCS)
    with pytest.raises(ValueError, match="keys must match"):
        bm25f_scores({"body": tf}, {"body": lens}, {"body": 1.0},
                     {"title": 0.5}, ["spark"])


# ---------------------------------------------------------------------------
# PACKED BM25F (index/wand.py mode="bm25f"): kernel ≡ exhaustive
# reference (hypothesis), pruning soundness, and Spark-level parity
# with the relational operator — VERDICT r4 #2
# ---------------------------------------------------------------------------

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.segments import Packed, build_segments, read_packed
from searchengine_spark.index.wand import _TermList, search_packed
from searchengine_spark.operators import postings as P
from searchengine_spark.operators import search as S

from .kernels import pack_groups, wand_shard_topk
from searchengine_spark.operators.fielded import FIELD_B_BODY, FIELD_B_TITLE


def _bm25f_ref(tf, dl, ttf, tl, df, n_docs, avgdl, avgtl, wb, wt):
    """Scalar python reference in exact literal lockstep with
    _TermList._score(mode='bm25f') / fielded.field_norm_tf."""
    nb = 1.0 - FIELD_B_BODY + FIELD_B_BODY * dl / avgdl
    if avgtl > 0.0:
        nt = 1.0 - FIELD_B_TITLE + FIELD_B_TITLE * tl / avgtl
    else:
        nt = 1.0 - FIELD_B_TITLE
    x = wt * (ttf / nt) + wb * (tf / nb)
    # np.log, not math.log: the kernel's scalar np.log can differ from
    # libm's in the last ulp — the parity contract is with the engine
    idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * x * 2.2 / (1.2 + x)


def _mk_fgroup(rng, term, n_postings, n_docs):
    """One (term, shard=0) relational group WITH title-field columns."""
    ids = rng.choice(n_docs * 10, size=n_postings, replace=False).astype(
        np.int64
    )
    tfs = rng.randint(1, 20, n_postings).astype(np.int64)
    return pd.DataFrame(
        {
            "term": term,
            "shard": 0,
            "doc_id": ids,
            "tf": tfs,
            "doclen": 20 + ids * 7919 % 180,  # one length per doc
            "df": n_postings,
            # title tf: mostly 0 (the realistic shape), sometimes > 0
            "ttf": np.where(
                rng.rand(n_postings) < 0.3,
                rng.randint(1, 4, n_postings), 0
            ).astype(np.int64),
            "tlen": ids * 31 % 8,  # one title length per doc
        }
    )


@given(st.integers(0, 10_000), st.booleans(), st.integers(1, 3),
       st.integers(1, 20), st.booleans())
@settings(max_examples=60, deadline=None)
def test_bm25f_kernel_equals_exhaustive(seed, conjunctive, nt, k, zero_avgtl):
    """Block-max-pruned packed BM25F top-k ≡ exhaustive python
    reference: rank identity AND bit-identical scores, across
    conjunctive/disjunctive, term counts, k, and the avgtl=0
    degenerate corpus. Any unsound field-weighted block bound (one
    that ever under-estimates a posting) would drop a true top-k doc
    here."""
    rng = np.random.RandomState(seed)
    n_docs, avgdl = 300, 80.0
    avgtl = 0.0 if zero_avgtl else 3.0
    wb, wt = 1.0, float(rng.choice([0.5, 1.0, 2.0, 8.0]))
    groups = [
        _mk_fgroup(rng, f"t{i}", int(rng.randint(5, 150)), n_docs)
        for i in range(nt)
    ]
    pdf, tables = pack_groups(groups, n_docs, avgdl, 0, avgtl=avgtl)
    # exhaustive reference over the RAW relational groups. Sum order
    # must match the kernel's accumulation order for bit-identity:
    # conjunctive sorts lists rarest-first (R1) before accumulating,
    # disjunctive accumulates in appearance order
    ordered = (
        sorted(enumerate(groups), key=lambda t: len(t[1]))
        if conjunctive else list(enumerate(groups))
    )
    per_doc: dict[int, list[float]] = {}
    for _, g in ordered:
        for _, r in g.iterrows():
            per_doc.setdefault(int(r["doc_id"]), []).append(
                _bm25f_ref(r["tf"], r["doclen"], r["ttf"], r["tlen"],
                           len(g), n_docs, avgdl, avgtl, wb, wt)
            )
    want = sorted(
        (
            (-sum(sc), d)
            for d, sc in per_doc.items()
            if not conjunctive or len(sc) == nt
        ),
    )[:k]
    out = wand_shard_topk(pdf, tables, n_docs, avgdl, k, conjunctive, nt,
                          mode="bm25f", fweights=(wb, wt))
    if conjunctive:
        out = out[out["n_hit"] == nt]
    got = sorted(zip(-out["score"].to_numpy(), out["doc_id"].tolist()))[:k]
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == ws  # bit-identical


def test_bm25f_block_bound_sound_and_lazy():
    """The field-weighted block bound never under-estimates a posting
    in its block (direct check over every block), and the lazy path
    actually skips blocks on a rare∧common-shaped query."""
    rng = np.random.RandomState(7)
    n_docs, avgdl, avgtl = 5000, 80.0, 3.0
    g = _mk_fgroup(rng, "common", 4000, n_docs)
    pdf, tables = pack_groups([g], n_docs, avgdl, 0, avgtl=avgtl)
    for fw in ((1.0, 2.0), (1.0, 0.25), (3.0, 1.0)):
        tl = _TermList(pdf, tables, n_docs, avgdl, mode="bm25f", fweights=fw)
        for b in range(len(tl.block_last)):
            ids, scores = tl.block_scores(b)
            assert scores.max() <= tl.block_max[b] + 0.0  # sound, no eps
    # lazy: a tiny driving list + huge companion → companion mostly
    # undecoded under bm25f pruning
    rare = _mk_fgroup(rng, "rare", 8, n_docs)
    pdf2, tables = pack_groups([rare, g], n_docs, avgdl, 0, avgtl=avgtl)
    out = wand_shard_topk(pdf2, tables, n_docs, avgdl, 5, False, 2,
                          mode="bm25f", fweights=(1.0, 2.0))
    assert len(out) > 0


@pytest.fixture(scope="module")
def packed(spark, corpus_small):
    idx = P.build_index(corpus_small, use_html=True)
    for t in (idx.postings, idx.term_stats, idx.doc_stats):
        t.cache().count()
    n, avgdl = S.corpus_constants(idx.doc_stats)
    seg = build_segments(idx, n, avgdl, n_shards=4).cache()
    seg.rows.count()
    return idx, seg, (n, avgdl)


@pytest.mark.parametrize("fw", [{"body": 1.0, "title": 2.0},
                                {"body": 1.0, "title": 8.0},
                                {"body": 2.0, "title": 0.5}])
@pytest.mark.parametrize("conj", [True, False])
def test_packed_bm25f_equals_relational(spark, packed, fw, conj):
    """search_packed(mode='bm25f') over a real indexed corpus ==
    operators.fielded.bm25f_scores with the index-convention inputs
    (title analyzed by the body analyzer, avg title len over ALL
    docs): same match set, bit-identical scores."""
    from searchengine_spark.functions.udfs import term_counts_udf

    idx, seg, (n, avgdl) = packed
    tc = term_counts_udf(F.coalesce(F.col("title"), F.lit("")))
    tside = idx.doc_stats.select("doc_id", tc.alias("tc")).select(
        "doc_id",
        F.arrays_zip("tc.terms", "tc.tfs").alias("z"),
        F.aggregate("tc.tfs", F.lit(0), lambda a, x: a + x)
        .cast("long").alias("len"),
    ).cache()
    title_tf = tside.select("doc_id", F.explode("z").alias("e")).select(
        "doc_id", F.col("e.terms").alias("term"),
        F.col("e.tfs").cast("int").alias("tf"),
    )
    query = "быстрый поиск"
    lem = S.lemmatize_query(query)
    rel = bm25f_scores(
        {"title": title_tf, "body": idx.postings},
        {"title": tside.select("doc_id", "len"),
         "body": idx.doc_stats.select("doc_id", F.col("doclen").alias("len"))},
        weights={"title": fw["title"], "body": fw["body"]},
        bs={"title": FIELD_B_TITLE, "body": FIELD_B_BODY},
        query_terms=lem,
    ).collect()
    nt = len(lem)
    want = {
        r["doc_id"]: r["score"] for r in rel
        if not conj or r["n_hit"] == nt
    }
    got = search_packed(
        spark, seg, idx.term_stats, n, avgdl, query, k=len(rel) + 10,
        conjunctive=conj, mode="bm25f", field_weights=fw,
    ).collect()
    assert {r["doc_id"] for r in got} == set(want)
    assert all(r["score"] == want[r["doc_id"]] for r in got)
    tside.unpersist()


def test_packed_bm25f_single_term_and_boosts(spark, packed):
    """Single-term bm25f routes through the pruned fast path and a
    term^w boost scales scores linearly (bound soundness implied by
    rank identity vs the unboosted ranking)."""
    idx, seg, (n, avgdl) = packed
    one = search_packed(spark, seg, idx.term_stats, n, avgdl, "поиск",
                        k=50, conjunctive=False, mode="bm25f").collect()
    assert len(one) > 0
    lem = S.lemmatize_query("поиск")[0]
    boosted = search_packed(
        spark, seg, idx.term_stats, n, avgdl, "поиск", k=50,
        conjunctive=False, mode="bm25f", boosts={lem: 3.0},
    ).collect()
    assert [r["doc_id"] for r in boosted] == [r["doc_id"] for r in one]
    for b, u in zip(boosted, one):
        assert b["score"] == u["score"] * 3.0


def test_bm25f_requires_field_layer(spark, packed):
    """Segments packed WITHOUT the field layer refuse mode='bm25f'
    with a clear error instead of serving wrong scores."""
    idx, seg, (n, avgdl) = packed
    stripped = Packed(seg.rows.drop(
        "tfs_title", "block_off_ttf", "block_max_bnorm", "block_max_tnorm",
        "avgtl",
    ), seg.docs)
    with pytest.raises(Exception, match="field"):
        search_packed(spark, stripped, idx.term_stats, n, avgdl,
                      "поиск", k=5, conjunctive=False,
                      mode="bm25f").collect()


def test_bm25f_lifecycle_delta_and_compaction(spark, tmp_path_factory):
    """Field-layer lifecycle parity: a delta-landed page is BM25F-
    searchable immediately (multi-run eager merge decodes the title
    streams), and after refresh_and_repack the packed BM25F scores
    equal a cold rebuild over the same corpus (the repack re-derives
    the field layer from resolved titles with a fresh exact avgtl)."""
    from searchengine_spark.index.refresh import refresh_and_repack
    from searchengine_spark.index.segments import (
        write_delta_run, write_segments,
    )
    from searchengine_spark.operators.postings import (
        build_index, prepare_docs_counts, write_index,
    )
    from searchengine_spark.sources.corpus import corpus_df

    base = str(tmp_path_factory.mktemp("bm25f_lc") / "index")
    docs = corpus_df(spark, 80)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = S.corpus_constants(idx.doc_stats)
    seg = build_segments(idx, n, avgdl, n_shards=4)
    write_segments(seg, f"{base}/segments")
    avgtl = float(
        spark.read.parquet(f"{base}/segments").select("avgtl").first()[0]
    )

    # land a page whose TITLE carries the probe term
    html = ("<html><head><title>уникальноеслово заголовок</title></head>"
            "<body><p>уникальноеслово появился в тексте страницы про "
            "поиск</p></body></html>")
    row = spark.createDataFrame(
        [("https://siteX.example/p1", None, bytearray(html.encode()),
          None, "")],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string",
    )
    prepared = prepare_docs_counts(row, use_html=True)
    write_delta_run(spark, prepared, base, idx.term_stats, n_docs=n,
                    avgdl=avgdl, n_shards=4, run_id=1, avgtl=avgtl)
    live = read_packed(spark, f"{base}/segments")
    # the delta term is absent from the BASE dictionary — queries see
    # it through the learned df_map (service.index_page contract)
    dfm = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    for t in S.lemmatize_query("уникальноеслово"):
        dfm.setdefault(t, 1)
    got = search_packed(spark, live, idx.term_stats, n, avgdl,
                        "уникальноеслово", k=5, conjunctive=False,
                        mode="bm25f", df_map=dfm).collect()
    assert len(got) == 1  # fresh page served from the multi-run merge
    delta_score = got[0]["score"]
    # title contribution present: same query at title weight 8 scores
    # strictly higher than at weight ~0 — only possible if ttf > 0
    lo = search_packed(spark, live, idx.term_stats, n, avgdl,
                       "уникальноеслово", k=5, conjunctive=False,
                       mode="bm25f", df_map=dfm,
                       field_weights={"body": 1.0, "title": 1e-9},
                       ).collect()[0]["score"]
    assert delta_score > lo

    # compact, then compare against a cold rebuild over the SAME docs
    refresh_and_repack(spark, base, run_id=2)
    seg2 = read_packed(spark, f"{base}/segments")
    ts2 = spark.read.parquet(f"{base}/idx/term_stats")
    ds2 = spark.read.parquet(f"{base}/idx/doc_stats")
    n2 = ds2.count()
    avgdl2 = ds2.agg(F.avg("doclen")).collect()[0][0]
    all_docs = docs.unionByName(row)
    idx_cold = build_index(all_docs, use_html=True)
    nc, avgdlc = S.corpus_constants(idx_cold.doc_stats)
    segc = build_segments(idx_cold, nc, avgdlc, n_shards=4)
    for q in ("уникальноеслово", "быстрый поиск"):
        a = search_packed(spark, seg2, ts2, n2, float(avgdl2), q,
                          k=100, conjunctive=False, mode="bm25f").collect()
        b = search_packed(spark, segc, idx_cold.term_stats, nc, avgdlc, q,
                          k=100, conjunctive=False, mode="bm25f").collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], q
