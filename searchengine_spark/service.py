"""Query-server facade: the reference's `/api/*` surface over a built
packed index (controllers/ApiController.java:14-46).

A reference deployment serves every request from Spring services over
warm JPA state; the Spark-first equivalent is one long-lived
SparkSession holding the hot read state — cached segment/stat frames
plus the collected term→df dictionary — and serving each request as a
tiny Spark job over them:

  GET /api/search        → SearchService.search()      (ApiService.java:82-146)
  GET /api/statistics    → SearchService.statistics()  (StatisticsServiceImpl.java:29-78)
  POST /api/indexPage    → SearchService.index_page()  (IndexingService.java:71-95)
  delete(url)            → SearchService.delete_page() (delete-old-postings,
                           IndexingService.java:152, promoted to an endpoint)
  GET /api/start/stopIndexing → operators/ops.py (job-group cancel + manifest resume)

Response dicts mirror the reference DTOs (SearchResponse/SearchItem:
result, count, data[site, uri, title, relevance, snippet];
StatisticsResponse: total + detailed per site) so a client of the
reference can switch with a field-for-field mapping. `title` is the
page <title> captured at index time (carried in doc meta —
operators/postings.title_from_html), round-tripping through delta
runs and compaction like url/site. One difference by design:
`relevance` is the full-precision BM25 double (the reference
stringifies a float).

Scale shape: every search is the packed WAND path (index/wand.py) —
term-pruned segment scan, per-shard kernels, ≤ shards·(offset+k) row
merge. search, boolean, phrase and explain bound each read's kernel
input from the service's per-term sizes (`read_sizes`) and run its
kernels on the driver when the bound is ≤
index/segments.DRIVER_READ_BYTES_MAX, else in Spark's Python workers
(index/wand._shard_rows). Every read endpoint then assembles its page
the same way
(`_items`): ONE filtered collect of the ranked page's ≤k ids from the
cached serving meta (`_lookup` — no join, no re-sort; items keep the
kernel merge's order), plus one more over docs_text when snippets are
rendered. statistics is one aggregation over cached doc/term stats.

Every request reads ONE immutable `Generation` — the cached frames,
deny-list, dictionary and response caches of one index state — and an
indexPage/delete lands its files, opens the next generation and
publishes it with one reference assignment, so a read never sees a
half-written state. At cluster scale the same object runs on a driver
serving a Spark Connect or Thrift endpoint.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import threading
import weakref
from collections import ChainMap, OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index.refresh import _doc_meta_resolved, recover
from .index.segments import (
    Packed,
    ReadSizes,
    doc_tables,
    read_packed,
    read_pinned,
    write_delta_run,
    write_tombstones,
)
from .index.wand import search_packed_fused
from .operators.postings import prepare_docs_counts, read_index
from .operators.search import corpus_constants

_DELTA_EPOCH = dt.datetime(2024, 1, 1)


def _unpersist(frames: dict) -> None:
    for df in frames.values():
        df.unpersist()


def _fresh(factory):
    """A per-generation field: a new `factory()` in every generation."""
    return dataclasses.field(default_factory=factory, init=False)


def _fork(m: ChainMap) -> ChainMap:
    """`m` over the same base layer with a private copy of its small
    delta layer — what a write may grow without touching the
    published generation."""
    return ChainMap(dict(m.maps[0]), *m.maps[1:])


@dataclasses.dataclass(frozen=True, eq=False)
class Generation:
    """One index state as served: every value a write changes.

    Publication: a write lands its files, builds the next Generation
    completely and publishes it with ONE assignment (`svc._gen = nxt`).
    A request reads `svc._gen` once and passes that snapshot down, so
    it never sees a mix of two states. Readers take no lock; writers
    are SINGLE (index_page / delete_page / refresh_positional must not
    overlap each other — the same rule as refresh_and_repack).

    File pinning: `segments` and its doc tables `seg_docs`, the delta
    meta runs under `serve_meta` and the positional tree — every tree a
    write appends to — read the files listed when the generation opened
    (index/segments.read_pinned). A plain read of a directory is
    refreshed by Spark on every append under it (`recacheByPath`), so
    an in-flight reader of the old generation would see the new rows,
    and two generations' caches of one path would share one cache
    entry. An OVERWRITE is not covered: a pinned frame over replaced
    files reads nothing (see refresh_positional).

    Retirement: `retire` unpersists the frames this generation owns
    once the last request holding it drops it (CPython frees it with
    its last reference); `evolve` hands frames that a write left
    unchanged to the next generation, which then owns them.

    `df_map` and the `read_sizes` maps are ChainMap(delta, base): a
    write copies only the delta layer. Lazily built values (site map,
    site dim, fuzzy keys, positional frame, sorted terms, the doc
    tables as the two executors take them — see `packed`) live in
    `lazy` slots, each built at most once per generation."""

    segments: DataFrame
    # the TF tree's doc tables (uncached) and their row count
    seg_docs: DataFrame
    seg_table_rows: int
    serve_meta: DataFrame
    # tombstoned docs whose postings are still packed (None: none)
    tombstoned: list | None
    n_shards: int
    df_map: ChainMap
    read_sizes: ReadSizes
    # the run id the next write lands as
    next_run_id: int
    # response / cursor-count caches of this state (see _cached)
    responses: OrderedDict = _fresh(OrderedDict)
    counts: OrderedDict = _fresh(OrderedDict)
    _slots: dict = _fresh(dict)
    # the cached frames `retire` unpersists
    _frames: dict = _fresh(dict)
    _lock: threading.Lock = _fresh(threading.Lock)
    retire: weakref.finalize = dataclasses.field(init=False, repr=False)

    def __post_init__(self):
        self._frames.update(segments=self.segments, serve_meta=self.serve_meta)
        retire = weakref.finalize(self, _unpersist, self._frames)
        retire.atexit = False
        object.__setattr__(self, "retire", retire)

    def lazy(self, name: str, build):
        """Slot `name`: `build()`'s value, built at most once, under
        this generation's lock. A DataFrame value is cached and
        materialized, and owned by the generation."""
        if name not in self._slots:
            with self._lock:
                if name not in self._slots:
                    v = build()
                    if isinstance(v, DataFrame):
                        self._frames[name] = v.cache()
                        v.count()
                    self._slots[name] = v
        return self._slots[name]

    def packed(self, name: str, rows: DataFrame, docs: DataFrame,
               table_rows: int) -> Packed:
        """A packed tree of this generation (index/segments.Packed)
        whose doc tables are collected with one Arrow toPandas() — the
        driver executor's — and shard-partitioned and persisted — the
        Spark executor's side — each at most once, on first use."""
        return Packed(
            rows, docs, table_rows,
            collect=lambda: self.lazy(
                f"{name}_tables", lambda: doc_tables(docs.toPandas())),
            frame=lambda: self.lazy(
                f"{name}_side",
                lambda: docs.repartition(self.n_shards, "shard")),
        )

    def tf(self) -> Packed:
        """The served TF tree."""
        return self.packed("seg", self.segments, self.seg_docs,
                           self.seg_table_rows)

    def evolve(self, keep: tuple = (), **changes) -> Generation:
        """The next generation: this one with `changes`, empty response
        caches, and the lazy slots in `keep` (the write left their
        inputs unchanged). Frames both share become the next one's."""
        nxt = dataclasses.replace(self, **changes)
        for name in keep:
            if name in self._slots:
                nxt._slots[name] = self._slots[name]
                if name in self._frames:
                    nxt._frames[name] = self._frames[name]
        # a snapshot: a reader may still add a lazy frame to this one
        for name, df in list(self._frames.items()):
            if nxt._frames.get(name) is df:
                del self._frames[name]
        return nxt


class SearchService:
    """Warm server over `<base>/{idx,segments}` (build_index.py layout).

    `docs_text`: optional (doc_id, text) frame enabling snippet
    rendering; without it `search(snippets=True)` raises.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: str,
        docs_text: DataFrame | None = None,
        snippet_mode: str = "word",
        cache_responses: bool = True,
    ):
        recover(base)  # settle any crashed refresh before reading
        # drop any stale session cache over this index: a refresh/
        # compaction swaps directories by os-level rename, which Spark
        # cannot see — a cached scan from an earlier service instance
        # would otherwise be silently substituted for our fresh reads
        # (CacheManager matches semantically identical plans)
        spark.catalog.refreshByPath(base)
        self.spark = spark
        self.base = base
        # docs_text should be a MATERIALIZED (doc_id, text) table —
        # snippets and the lazy positional build scan it per call, so
        # an unmaterialized extraction plan would re-run its UDFs over
        # the whole corpus on every snippets request
        self.docs_text = docs_text
        self.snippet_mode = snippet_mode
        self.index = read_index(spark, f"{base}/idx")
        self.doc_stats = self.index.doc_stats.cache()
        self.term_stats = self.index.term_stats.cache()
        self.n_docs, self.avgdl = corpus_constants(self.doc_stats)
        # hot dictionary: one collect at open, every query served from
        # it; the same rows seed the per-term sizes that bound a read's
        # kernel input (index/wand._shard_rows) — index_page adds each
        # delta posting to them, side_rows follows serve_meta. Delta
        # runs only ever add to the front layer of each ChainMap.
        terms = self.term_stats.collect()
        dfs = {r["term"]: r["df"] for r in terms}
        # bounded response cache for the read endpoints (see _cached);
        # cache_responses=False serves every request uncached (bench
        # uses it so min-of-N latency measures the kernels, not hits)
        self._cache_responses = cache_responses
        segments, seg_docs, seg_rows, top_run, top_shard = (
            self._open_segments())
        serve_meta, tombstoned, side_rows, top_mrun = self._open_meta()
        # shard mapping: the build manifest is authoritative (checked
        # on resume — index/manifest.py); fall back to the observed
        # max shard id for indexes built without one
        from .index.manifest import read_manifest

        rec = (
            read_manifest(self.spark, self.base)
            .filter(F.col("stage") == "pack_segments")
            .select("n_shards").distinct().collect()
        )
        cfs = {r["term"]: r["cf"] for r in terms}
        # delta runs on disk: what index_page taught the service that
        # landed them — their terms absent from term_stats at df=1 (its
        # rule), and every term's delta postings and positions (Σtf,
        # decoded from the packed tfs) in the size bound
        learned, delta_postings, delta_positions = {}, {}, {}
        if top_run > 0:
            from .index.varbyte import decode_ints

            for r in (segments.filter(F.col("run_id") > 0)
                      .select("term", "n_docs", "tfs").collect()):
                t = r["term"]
                delta_postings[t] = (
                    delta_postings.get(t, dfs.get(t, 0)) + r["n_docs"])
                delta_positions[t] = (
                    delta_positions.get(t, cfs.get(t, 0))
                    + int(decode_ints(bytes(r["tfs"])).sum()))
                if t not in dfs:
                    learned[t] = 1
        self._gen = Generation(
            segments, seg_docs, seg_rows, serve_meta, tombstoned,
            int(rec[0]["n_shards"]) if len(rec) == 1 else top_shard + 1,
            ChainMap(learned, dfs),
            ReadSizes(ChainMap(delta_postings, dfs),
                      ChainMap(delta_positions, cfs), side_rows),
            # past every run on disk, tombstone runs included: a write
            # must never tie an earlier one (a re-index tied with its
            # delete resolves deleted-wins)
            max(top_run, top_mrun) + 1,
        )
        # optional query-independent authority table
        # (linkgraph.write_static_rank) enabling blended ranking, with
        # its row count: (frame, n) or None. The frame stays
        # DISTRIBUTED (|corpus| rows — only the ≤K' candidates of a
        # blend request ever reach the driver)
        self.static_rank: tuple[DataFrame, int] | None = None
        self.reload_static_rank()

    @property
    def segments(self) -> DataFrame:
        """The served generation's packed segment rows."""
        return self._gen.segments

    @property
    def _response_cache(self) -> OrderedDict:
        return self._gen.responses

    # -- response cache ------------------------------------------------------

    _CACHE_MAX = 256

    def _cached(self, key: tuple, compute):
        """Serve repeated identical read requests from memory — the
        front-tier result cache every production engine runs.
        `compute(g)` answers from the generation `g` this call read
        once, and the answer is cached IN `g`: a write publishes a new
        generation with empty caches, so a request after a write always
        recomputes, and a request that began before it can only fill
        the retired generation's cache — correctness by generation, not
        by TTL. Bounded FIFO (oldest-inserted evicted at _CACHE_MAX);
        entries are deep-copied in AND out so callers cannot mutate
        cached state."""
        import copy

        g = self._gen
        if not self._cache_responses:
            return compute(g)
        hit = g.responses.get(key)
        if hit is not None:
            return copy.deepcopy(hit)
        out = compute(g)
        if len(g.responses) >= self._CACHE_MAX:
            g.responses.popitem(last=False)
        g.responses[key] = copy.deepcopy(out)
        return out

    # public read endpoints: thin caching wrappers over the *_uncached
    # implementations below (same signatures, same docstrings apply)

    def search(self, query: str, site: str | None = None, offset: int = 0,
               limit: int = 20, snippets: bool = False, mode: str = "bm25",
               conjunctive: bool = True, blend: float | None = None,
               oversample: int = 4, correct: bool = False,
               collapse: int | None = None,
               synonyms: dict | None = None,
               synonym_weight: float = 0.5,
               after: tuple | None = None,
               after_sites: dict | None = None,
               field_weights: dict | None = None) -> dict:
        syn_key = (
            tuple(sorted((k, tuple(v)) for k, v in synonyms.items()))
            if synonyms else None
        )
        fw_key = (
            tuple(sorted(field_weights.items())) if field_weights else None
        )
        as_key = (
            tuple(sorted(after_sites.items()))
            if after_sites is not None else None
        )
        return self._cached(
            # oversample only affects blended requests — keep it out of
            # the key otherwise so identical responses share one slot
            ("search", query, site, offset, limit, snippets, mode,
             conjunctive, blend,
             oversample if blend is not None else None, correct, collapse,
             syn_key, synonym_weight if synonyms else None,
             tuple(after) if after else None, as_key, fw_key),
            lambda g: self._search_uncached(
                g, query, site=site, offset=offset, limit=limit,
                snippets=snippets, mode=mode, conjunctive=conjunctive,
                blend=blend, oversample=oversample, correct=correct,
                collapse=collapse, synonyms=synonyms,
                synonym_weight=synonym_weight, after=after,
                after_sites=after_sites,
                field_weights=field_weights),
        )

    def facets(self, query: str, top: int = 10,
               conjunctive: bool = True) -> dict:
        return self._cached(
            ("facets", query, top, conjunctive),
            lambda g: self._facets_uncached(
                g, query, top=top, conjunctive=conjunctive),
        )

    def complete(self, prefix: str, topn: int = 10) -> dict:
        """Query autocomplete: the dictionary terms prefix retrieval
        expands `prefix` to (`_expand`), capped at `topn`, driver-side
        with no Spark job. → {result, completions: [{term, df}, …]}."""
        if not prefix:
            return {"result": True, "completions": []}
        return self._cached(("complete", prefix, topn), lambda g: {
            "result": True,
            "completions": [
                {"term": t, "df": int(df)}
                for t, df in self._expand(g, prefix, topn)
            ],
        })

    def phrase(self, query: str, limit: int = 20) -> dict:
        return self._cached(
            ("phrase", query, limit),
            lambda g: self._phrase_uncached(g, query, limit=limit),
        )

    def boolean(self, query: str, limit: int = 20,
                site: str | None = None, offset: int = 0) -> dict:
        return self._cached(
            ("boolean", query, limit, site, offset),
            lambda g: self._boolean_uncached(
                g, query, limit=limit, site=site, offset=offset),
        )

    def prefix(self, pfx: str, limit: int = 20,
               max_expansions: int = 50) -> dict:
        return self._cached(
            ("prefix", pfx, limit, max_expansions),
            lambda g: self._prefix_uncached(
                g, pfx, limit=limit, max_expansions=max_expansions),
        )

    def suggest(self, word: str, topn: int = 10) -> list[dict]:
        return self._cached(
            ("suggest", word, topn),
            lambda g: self._suggest_uncached(g, word, topn=topn),
        )

    def more_like_this(self, url: str, limit: int = 20,
                       max_terms: int = 25) -> dict:
        return self._cached(
            ("mlt", url, limit, max_terms),
            lambda g: self._mlt_uncached(g, url, limit=limit,
                                         max_terms=max_terms),
        )

    def statistics(self) -> dict:
        return self._cached(
            ("statistics",), self._statistics_uncached
        )

    def reload_static_rank(self) -> None:
        """(Re-)read `<base>/staticrank`. Call after an offline rank
        rebuild (`linkgraph.build_static_rank` over the refreshed
        corpus — the graph is corpus-derived, so rank refresh is a
        batch job, not a per-page delta); blended requests serve the
        new table immediately. Absent table → blend requests raise.

        The new table is built, then published with one assignment; a
        blend request meanwhile serves the old reference (uncached: a
        same-path cache entry is shared, so the old one goes first)."""
        from .index.manifest import fs_exists

        if self.static_rank is not None:
            self.static_rank[0].unpersist()
        rank = None
        if fs_exists(self.spark, f"{self.base}/staticrank"):
            df = self.spark.read.parquet(f"{self.base}/staticrank").cache()
            n = df.count()
            # an empty table is as unservable as an absent one — treat
            # it the same so blend raises the clear error instead of
            # dividing by zero in _blend_hits
            if n:
                rank = (df, n)
            else:
                df.unpersist()
        self.static_rank = rank
        # blended responses cached before the swap are stale: publish
        # the same state with empty caches
        g = self._gen
        self._gen = g.evolve(keep=tuple(g._slots))

    # -- /api/search ---------------------------------------------------------

    def _search_uncached(
        self,
        g: Generation,
        query: str,
        site: str | None = None,
        offset: int = 0,
        limit: int = 20,
        snippets: bool = False,
        mode: str = "bm25",
        conjunctive: bool = True,
        blend: float | None = None,
        oversample: int = 4,
        correct: bool = False,
        collapse: int | None = None,
        synonyms: dict | None = None,
        synonym_weight: float = 0.5,
        after: tuple | None = None,
        after_sites: dict | None = None,
        field_weights: dict | None = None,
    ) -> dict:
        """SearchResponse dict: {result, count, data:[{site, uri, url,
        doc_id, title, relevance[, snippet]}]}. `count` is the
        pre-pagination match total (ApiService.java:104-113); `data`
        is the [offset, offset+limit) slice ranked (score desc,
        doc_id asc).

        ONE kernel pass per request (search_packed_fused): each
        shard's WAND kernel returns its top page AND its match count
        in the same call, on whichever executor index/wand._shard_rows
        picks. Snippets render in-process from the page's docs_text
        rows. Cursor pages (`after`) read the cursor-independent count
        from the generation's count cache and ask the kernel for it
        only on a miss.

        `blend=w` reranks by `bm25 + w·authority` (authority = static
        PageRank relative to uniform mass — see `_blend_hits`) over an
        oversampled BM25 candidate set of `oversample·(offset+limit)`
        docs: classic two-stage retrieve-then-rerank. Items then carry
        `bm25` and `authority` alongside the blended `relevance`.

        `correct=True` (did-you-mean, beyond-reference): query lemmas
        ABSENT from the dictionary — which the reference silently
        drops (ApiService.java:121-126) — are replaced by their best
        edit-distance-1 dictionary term (operators/fuzzy.py SymSpell
        rule: df desc, term asc). Known lemmas are never touched; a
        lemma with no candidate drops as before. Applied corrections
        come back as response["corrected"] = {typed: served}, and
        snippets highlight the corrected terms. The contract analog
        (full DuckDB oracle of correction + retrieval) is
        contract.q_corrected_search.

        `collapse=n` (host collapsing, beyond-reference): at most n
        results per site in the ranked list — the "omitted similar
        results" semantics. Served by the collapse-aware WAND kernel
        over the generation's cached doc→site map (see
        index.wand.site_map_frame); the response `count` stays the
        UNCOLLAPSED match total. Mutually exclusive with `site`
        (enforced in the kernel entry) and with `blend` (rerank after
        collapse would need its own oversample ladder — unsupported).

        Collapsed responses carry `site_counts` (site_id → rows served
        so far, cumulative): pass it back together with
        `after=(relevance, doc_id)` of the last row as `after_sites`
        to page the DIVERSIFIED ranking exactly — the collapse walk is
        stateful, and the per-site consumed counts are exactly its
        state (collapse-aware search_after; the kernels cap every site
        at its remaining budget and the θ-seed caps its exact-totals
        sample the same way)."""
        if snippets and self.docs_text is None:
            raise ValueError(
                "snippets need docs_text (doc_id, text) at open"
            )
        if collapse is not None and blend is not None:
            raise ValueError("collapse and blend cannot combine")
        if after is not None and (
            offset or blend is not None or correct or synonyms
        ):
            raise ValueError(
                "search_after replaces offset and cannot combine with "
                "blend, correct, or synonyms (cursor pages re-analyze "
                "the query verbatim — a rewritten term set would "
                "silently change the ranking under the cursor)"
            )
        from .operators.search import lemmatize_query, parse_boosted_query

        boosts = None
        if "^" in query:
            # Lucene term^w query boosts (beyond-reference): weights
            # scale the term's BM25 contribution AND its block-max
            # bounds inside the WAND kernel — pruning stays sound
            # (index/wand._TermList). bm25 mode only; a boost on a
            # lemma the did-you-mean path corrects is dropped with it.
            query, parsed = parse_boosted_query(query)
            boosts = parsed or None
            if boosts and mode not in ("bm25", "bm25f"):
                raise ValueError("term^w boosts need bm25/bm25f mode")
        q_lemmas = lemmatize_query(query)
        corrections: dict[str, str] = {}
        if correct:
            q_lemmas, corrections = self._correct_lemmas(g, q_lemmas)
        if synonyms:
            # OR-expansion-with-discount (operators.search
            # .expand_synonyms): synonym lemmas join the query at
            # synonym_weight; disjunctive by construction
            if conjunctive:
                raise ValueError(
                    "synonym expansion is disjunctive — pass "
                    "conjunctive=False (AND semantics: use boolean())"
                )
            if mode != "bm25":
                raise ValueError("synonym expansion needs bm25 mode")
            from .operators.search import expand_synonyms

            q_lemmas, syn_boosts = expand_synonyms(
                q_lemmas, synonyms, synonym_weight
            )
            boosts = {**syn_boosts, **(boosts or {})}
        k_fetch = limit if blend is None else oversample * (offset + limit)
        # the match count is cursor-INDEPENDENT (same total for every
        # page of one query), so it is cached per (query, site,
        # conjunctive) in the generation: a cursor page asks the
        # kernel for it only on a miss. Only counts over the verbatim query seed it —
        # corrections/synonyms rewrite q_lemmas (a cursor page cannot
        # combine with them) and a collapse count is diversity-capped
        ckey = (query, site, conjunctive)
        count = (
            g.counts.get(ckey)
            if after is not None and collapse is None else None
        )
        hits, fused_count = search_packed_fused(
            self.spark, g.tf(), self.term_stats, self.n_docs,
            self.avgdl, query, lemmas=q_lemmas, k=k_fetch,
            offset=offset if blend is None else 0, site=site,
            mode=mode, conjunctive=conjunctive, df_map=g.df_map,
            sizes=g.read_sizes,
            doc_stats=g.serve_meta, n_shards=g.n_shards,
            excluded_doc_ids=g.tombstoned,
            collapse_n=collapse,
            site_map=self._site_map(g) if collapse is not None else None,
            boosts=boosts, field_weights=field_weights,
            after=(
                (float(after[0]), int(after[1]))
                if after is not None else None
            ),
            after_sites=after_sites,
            return_sites=collapse is not None,
            _count=count is None,
        )
        if count is None:
            count = fused_count
        site_counts = None
        if collapse is not None:
            # cumulative per-site served counts — the client passes
            # these back (with the last row's cursor) to page the
            # collapsed ranking exactly (VERDICT r4 #8)
            site_counts = dict(after_sites or {})
            for _, _, sid in hits:
                site_counts[int(sid)] = site_counts.get(int(sid), 0) + 1
            hits = [(d, sc) for d, sc, _ in hits]
        elif not corrections and not synonyms and (
            ckey not in g.counts
        ):
            if len(g.counts) >= self._CACHE_MAX:
                g.counts.popitem(last=False)
            g.counts[ckey] = count
        parts = None
        if blend is not None:
            reranked = self._blend_hits(hits, blend)[offset:offset + limit]
            hits = [(d, b) for d, b, _, _ in reranked]
            parts = {d: (s, a) for d, _, s, a in reranked}
        data = self._items(g, hits)
        if snippets:
            # ≤limit texts render in-process with the textproc
            # functions snippet_udf wraps — no Python-worker job
            from .functions import textproc

            snip = (
                textproc.make_snippet_charwalk
                if self.snippet_mode == "charwalk"
                else textproc.make_snippet
            )
            texts = self._lookup(
                self.docs_text, [d["doc_id"] for d in data], "text"
            )
            for item in data:
                # a page landed by index_page has no docs_text row
                row = texts.get(item["doc_id"])
                item["snippet"] = snip(row["text"], q_lemmas, 3) if row else ""
        if parts is not None:
            for item in data:
                item["bm25"], item["authority"] = parts[item["doc_id"]]
        out = {"result": True, "count": count, "data": data}
        if corrections:
            out["corrected"] = corrections
        if site_counts is not None:
            out["site_counts"] = site_counts
        return out

    def _correct_lemmas(
        self, g: Generation, lemmas: list[str]
    ) -> tuple[list[str], dict[str, str]]:
        """Replace dictionary-absent lemmas by their best
        edit-distance-1 term (SymSpell keyed lookup, ranked df desc /
        term asc — operators/fuzzy.py); known lemmas pass through
        untouched, uncorrectable ones drop (the reference's silent
        unknown-lemma behavior). Order-preserving dedup keeps the
        query's term-set semantics when a correction lands on an
        already-present term."""
        from .operators.fuzzy import suggest_terms_multi

        unknown = [t for t in dict.fromkeys(lemmas) if t not in g.df_map]
        corrections: dict[str, str] = {}
        if unknown:
            # ONE keyed lookup job for the whole query (VERDICT r4):
            # all unknown lemmas batch into a single join against the
            # precomputed deletion-key table
            best = {
                r["word"]: r["term"]
                for r in suggest_terms_multi(
                    self.term_stats, unknown, topn=1,
                    key_index=self._fuzzy_keys(g),
                ).collect()
            }
            corrections = {t: best[t] for t in unknown if t in best}
        fixed: dict[str, None] = {}
        for t in lemmas:
            if t in g.df_map:
                fixed.setdefault(t)
            elif t in corrections:
                fixed.setdefault(corrections[t])
        return list(fixed), corrections

    def _blend_hits(
        self, hits: list, w: float
    ) -> list[tuple[int, float, float, float]]:
        """Rerank (doc_id, bm25) candidates by `bm25 + w·authority`.

        authority = rank·|V|/scale — 1.0 is exactly-average PageRank
        mass, so at w=1 one BM25 point trades against one
        uniform-mass multiple of authority (the integer contract
        analog is `contract.q_static_rank_blend`). Candidates come
        from an oversampled BM25 retrieval; a doc outside the BM25
        top-K' cannot be recovered — the standard two-stage trade,
        bounded by `oversample`. Docs absent from the rank table
        (e.g. a page landed by `index_page` after the graph build)
        get authority 0. The rank table never collects: only the ≤K'
        candidates' rows come back (`_lookup`).

        Returns (doc_id, blended, bm25, authority) sorted
        (blended desc, doc_id asc)."""
        from .operators.linkgraph import PR_SCALE

        rank = self.static_rank
        if rank is None:
            raise ValueError(
                "blend needs a static-rank table at <base>/staticrank "
                "(operators/linkgraph.write_static_rank)"
            )
        ranks = self._lookup(rank[0], [d for d, _ in hits], "rank")
        unit = PR_SCALE / rank[1]
        out = []
        for d, s in hits:
            row = ranks.get(int(d))
            a = (row["rank"] if row else 0) / unit
            out.append((int(d), float(s) + w * a, float(s), a))
        out.sort(key=lambda t: (-t[1], t[0]))
        return out

    # -- /api/explain (beyond-reference) --------------------------------------

    def explain(
        self,
        query: str,
        limit: int = 20,
        site: str | None = None,
        conjunctive: bool = True,
        mode: str = "bm25",
        field_weights: dict | None = None,
    ) -> dict:
        """Query-execution observability: what the WAND kernels do for
        this request — resolved terms (post stop-filter and high-DF
        pruning) with their document frequencies, and the trailer
        counters (index/wand.py module docstring) of one top-k kernel
        pass summed over shards: postings touched, compressed blocks
        total vs actually decoded (the gap is block-max pruning + lazy
        lookup skips), candidate/scored doc counts, and the largest
        per-shard θ bound. The per-partition metrics the north rule
        requires for the BUILD (index/manifest.py), extended to the
        query side. 'term^w' boost syntax is honored — explain runs the
        same boosted kernels search would run.

        `executor` says where the kernels ran — "driver" or "spark"
        (None: no term survived, nothing ran) — and `input_bytes_bound`
        the bound the rule compared with
        index/segments.DRIVER_READ_BYTES_MAX (index/wand._shard_rows)."""
        from .index.wand import _resolve_fweights, _resolve_terms, _wand_rows
        from .operators.search import lemmatize_query, parse_boosted_query

        boosts = None
        if "^" in query:
            query, parsed = parse_boosted_query(query)
            boosts = parsed or None
            if boosts and mode not in ("bm25", "bm25f"):
                # mirror search(): fail driver-side with a clean error
                # instead of a ValueError inside the executor pandas
                # UDF (opaque PythonException)
                raise ValueError("term^w boosts need bm25/bm25f mode")
        g = self._gen
        fweights = _resolve_fweights(mode, field_weights)
        lemmas = lemmatize_query(query)
        terms = _resolve_terms(
            self.term_stats, self.n_docs, lemmas, 0.95, g.df_map
        )
        out = {
            "result": True,
            "query": query,
            "lemmas": lemmas,
            "terms": [{"term": t, "df": g.df_map[t]} for t in terms],
            "shards": 0,
            "n_postings": 0,
            "n_blocks": 0,
            "n_blocks_decoded": 0,
            "blocks_decoded_pct": 0.0,
            "n_candidates": 0,
            "n_scored": 0,
            "theta_max": 0.0,
            "executor": None,
            "input_bytes_bound": 0,
        }
        if not terms:
            return out
        rows, out["executor"], out["input_bytes_bound"] = _wand_rows(
            g.tf(), terms, g.read_sizes, self.n_docs, self.avgdl,
            limit, conjunctive, mode, site=site, doc_stats=g.serve_meta,
            n_shards=g.n_shards, excluded_doc_ids=g.tombstoned,
            boosts=boosts, fweights=fweights,
        )
        rows = [r for r in rows if r["is_trailer"]]
        out["shards"] = len(rows)
        for f in ("n_postings", "n_blocks", "n_blocks_decoded",
                  "n_candidates", "n_scored"):
            out[f] = int(sum(r[f] for r in rows))
        out["theta_max"] = float(max((r["theta"] for r in rows), default=0.0))
        out["blocks_decoded_pct"] = round(
            100.0 * out["n_blocks_decoded"] / out["n_blocks"], 2
        ) if out["n_blocks"] else 0.0
        return out

    # -- /api/phrase (beyond-reference) --------------------------------------

    def _phrase_uncached(self, g: Generation, query: str,
                         limit: int = 20) -> dict:
        """Exact-sequence ("quoted") retrieval over the positional
        packed runs (index/positional.py): {result, count, data:
        [{site, uri, url, doc_id, phrase_tf}]}, ranked (phrase_tf
        desc, doc_id asc). `count` is the pre-pagination match total.

        The positional runs live at <base>/possegs (built once from
        `docs_text` on first use if absent) and follow the SAME
        delta/last-run-wins/compaction lifecycle as the TF segments:
        index_page appends a positional delta run (phrase-searchable
        immediately), delete_page is honored via the tombstone
        deny-list, and compaction (scripts/compact.py →
        refresh_and_repack) folds runs and drops tombstones. Only a
        page landed while the positional layer did not exist yet needs
        refresh_positional() to appear."""
        from .functions.textproc import tokenize_lemmatize
        from .index.positional import (
            merge_phrase_rows,
            phrase_search_packed_topk_count,
        )

        phr = tokenize_lemmatize(query)
        if not phr:
            return {"result": True, "count": 0, "data": []}
        pos_segments, stale = self._positional(g)
        # ONE kernel pass per shard returns the shard's top-k rows AND
        # its match count (the trailer row of the shared kernel
        # contract), tombstones deny-listed inside the kernel. An
        # in-sync possegs references only servable-or-tombstoned docs;
        # a stale snapshot (_STALE marker, left by a crash-recovery
        # discard) may still hold docs compaction removed, so it also
        # cogroups the served docs (the cached doc→site map) as the
        # kernel's `allowed` filter.
        page, count = merge_phrase_rows(
            phrase_search_packed_topk_count(
                self.spark, pos_segments, phr, limit,
                excluded_doc_ids=g.tombstoned or None,
                sizes=g.read_sizes,
                side=self._site_map(g) if stale else None,
            ).collect(),
            limit,
        )
        return {"result": True, "count": count,
                "data": self._items(g, page, "phrase_tf")}

    # -- /api/boolean (beyond-reference) ---------------------------------------

    def _boolean_uncached(
        self,
        g: Generation,
        query: str,
        limit: int = 20,
        site: str | None = None,
        offset: int = 0,
    ) -> dict:
        """Explicit AND/OR/NOT retrieval over the packed segments
        (operators/boolquery.py): {result, count, data: [{site, uri,
        url, doc_id, title, relevance}]} ranked (score desc, doc_id
        asc), sliced [offset, offset+limit); ``count`` is the
        pre-pagination match total, computed in the SAME fused kernel
        pass as the page; ``site`` restricts candidates (corpus
        statistics stay global). Deletes are honored via the tombstone
        deny-list, and delta runs are visible (the kernel's multi-run
        merge). Raises ValueError on syntax errors and on ungrounded
        (negation-only) queries."""
        from .operators.boolquery import bool_search_packed_fused

        hits, count = bool_search_packed_fused(
            self.spark, g.tf(), self.n_docs, self.avgdl, query,
            k=limit, excluded_doc_ids=g.tombstoned, site=site,
            offset=offset, doc_stats=g.serve_meta,
            n_shards=g.n_shards, sizes=g.read_sizes,
        )
        return {"result": True, "count": count, "data": self._items(g, hits)}

    # -- /api/prefix (beyond-reference) ----------------------------------------

    def _prefix_uncached(self, g: Generation, pfx: str, limit: int = 20,
                         max_expansions: int = 50) -> dict:
        """Wildcard retrieval (``spar*``): the bounded dictionary
        expansion complete() serves (`_expand` — delta-learned terms
        included), then one disjunctive block-max WAND read over the
        expanded terms, unpruned by df (operators/prefix.py's
        contract), with the lazy plan's kernel and ranking. Deletes
        honored via the tombstone deny-list."""
        if not pfx:
            raise ValueError("prefix must be non-empty")
        terms = [t for t, _ in self._expand(g, pfx, max_expansions)]
        hits, _ = search_packed_fused(
            self.spark, g.tf(), self.term_stats, self.n_docs,
            self.avgdl, query=pfx, lemmas=terms, k=limit,
            conjunctive=False, max_rel_freq=1.0, df_map=g.df_map,
            sizes=g.read_sizes, excluded_doc_ids=g.tombstoned,
            _count=False,
        )
        return {"result": True, "data": self._items(g, hits)}

    @staticmethod
    def _expand(g: Generation, prefix: str, cap: int) -> list[tuple]:
        """[(term, df)] of the served dictionary (base + delta-learned
        terms) starting with `prefix`, ranked (df desc, term asc) and
        capped at `cap` — operators/prefix.expand_prefix's rule, by one
        bisect over the sorted key list built once per generation. At
        cluster scale the dictionary is a term-sorted table and this
        is a row-group-pruned range scan."""
        import bisect

        terms = g.lazy("terms", lambda: sorted(g.df_map))
        lo = bisect.bisect_left(terms, prefix)
        # the prefix range ends where the prefix stops matching
        if ord(prefix[-1]) < 0x10FFFF:
            hi = bisect.bisect_left(
                terms, prefix[:-1] + chr(ord(prefix[-1]) + 1), lo
            )
        else:  # un-incrementable last codepoint: scan the tail
            hi = next(
                (i for i in range(lo, len(terms))
                 if not terms[i].startswith(prefix)),
                len(terms),
            )
        return sorted(
            ((t, g.df_map[t]) for t in terms[lo:hi]),
            key=lambda td: (-td[1], td[0]),
        )[:cap]

    # -- /api/suggest (beyond-reference) ---------------------------------------

    def _suggest_uncached(self, g: Generation, word: str,
                          topn: int = 10) -> list[dict]:
        """Did-you-mean: dictionary terms within edit distance 1 of
        ``word`` (operators/fuzzy.py SymSpell keys), ranked
        (df desc, term asc). Served from the cached key table over the
        SERVED dictionary (base term_stats + delta-learned terms), so
        a freshly indexed page's terms are suggestable immediately —
        same visibility contract as search and complete()."""
        from .operators.fuzzy import suggest_terms

        return [
            {"term": r["term"], "df": r["df"]}
            for r in suggest_terms(
                self.term_stats, word, topn=topn,
                key_index=self._fuzzy_keys(g),
            ).collect()
        ]

    # -- /api/moreLikeThis (beyond-reference) ----------------------------------

    def _mlt_uncached(self, g: Generation, url: str, limit: int = 20,
                      max_terms: int = 25) -> dict:
        """Documents similar to ``url`` (operators/mlt.py): the page's
        top tf·idf terms become a disjunctive BM25 query over the
        packed index, the source doc excluded via the same deny-list
        mechanism as tombstones. Response = the search() shape plus
        ``terms`` (the machine-picked query — the engine's "why these
        results" explanation). Needs docs_text at open (term selection
        analyzes the source page's text). Unknown urls → result=False.

        Scale: selection is driver-side over ONE doc's counts against
        the warm df dictionary; retrieval is an ordinary ≤max_terms
        WAND query — no corpus pass."""
        from collections import Counter

        from .functions import textproc
        from .operators.mlt import select_mlt_terms

        if self.docs_text is None:
            raise ValueError(
                "more_like_this needs docs_text (doc_id, text) at open"
            )
        doc_id = self._url_doc_id(url)
        if not self._lookup(g.serve_meta, [doc_id]):
            return {"result": False, "error": "url not in index"}
        row = self._lookup(self.docs_text, [doc_id], "text").get(doc_id)
        if row is None or row["text"] is None:
            return {"result": False, "error": "document text unavailable"}
        counts = Counter(textproc.tokenize_lemmatize(row["text"]))
        terms = select_mlt_terms(
            dict(counts), g.df_map, self.n_docs, max_terms
        )
        if not terms:
            return {"result": True, "count": 0, "terms": [], "data": []}
        excluded = list(g.tombstoned or []) + [doc_id]
        hits, count = search_packed_fused(
            self.spark, g.tf(), self.term_stats, self.n_docs,
            self.avgdl, query=" ".join(terms), lemmas=terms, k=limit,
            conjunctive=False, df_map=g.df_map,
            sizes=g.read_sizes,
            doc_stats=g.serve_meta, n_shards=g.n_shards,
            excluded_doc_ids=excluded,
        )
        return {"result": True, "count": count, "terms": terms,
                "data": self._items(g, hits)}

    def refresh_positional(self) -> None:
        """Rebuild the positional snapshot from the docs_text rows of
        the docs the index serves now, keeping the positional runs of
        served pages docs_text lacks (index_page's), and publish a
        generation that reads it.

        READER EXCLUSION: the rebuild overwrites <base>/possegs in
        place, and a pinned frame over replaced files reads no rows, so
        a phrase request overlapping this call may answer empty — pause
        phrase reads across it, as across refresh_and_repack's swap.
        The publish itself is still one assignment."""
        g = self._gen
        self._build_positional(g)
        nxt = g.evolve(keep=("site_map", "site_dim", "fuzzy", "terms",
                             "seg_tables", "seg_side"))
        self._positional(nxt)
        self._gen = nxt

    def _positional(self, g: Generation) -> tuple[Packed, bool]:
        """(positional tree, stale) of `g`: <base>/possegs, read — or
        built from docs_text if absent — on the generation's first
        phrase request. Its doc tables are pinned after its rows: an
        append lands tables first, so every pinned row has its table."""
        from .index.manifest import fs_exists

        path = f"{self.base}/possegs"

        def read():
            if not fs_exists(self.spark, path):
                self._build_positional(g)
            return read_packed(self.spark, path, pinned=True).rows

        def read_docs():
            # a tuple, which `lazy` stores as is: the tables stay uncached
            docs = read_pinned(self.spark, f"{path}/_docs")
            return docs, docs.count()

        rows = g.lazy("possegs", read)
        return g.packed("pos", rows, *g.lazy("pos_docs", read_docs)), g.lazy(
            # a crash-recovery discard (refresh._recover_pos) marks a
            # kept pre-compaction snapshot: its rows may reference docs
            # the main index no longer serves, so phrase reads filter
            # to the served docs until a repack/rebuild replaces the
            # tree (which drops the marker)
            "pos_stale",
            lambda: fs_exists(self.spark, f"{self.base}/possegs/_STALE"),
        )

    def _build_positional(self, g: Generation) -> None:
        """(Re)build <base>/possegs as one run: the docs_text rows of
        the served docs the base build last landed (meta run 0), plus
        the current positional rows of every other served doc — pages
        index_page landed, whose docs_text row (if any) holds their
        OLD text, and served docs docs_text lacks."""
        from .functions.udfs import tokenize_lemmatize_udf
        from .index.manifest import fs_delete, fs_exists
        from .index.positional import (
            positional_rows,
            repack_positional,
            unpack_positional,
            write_positional_segments,
        )
        from .index.refresh import current_view
        from .index.segments import shard_of

        if self.docs_text is None:
            raise ValueError(
                "phrase search needs docs_text at open (to build the "
                "positional runs) or a prebuilt <base>/possegs"
            )
        path = f"{self.base}/possegs"
        # only docs the index serves get positional runs: a docs_text
        # row with no living doc would otherwise count in phrase()
        # without an item to serve
        live = _doc_meta_resolved(self.spark, self.base).filter(
            ~F.col("deleted"))
        from_text = live.filter(F.col("mrun") == 0).join(
            self.docs_text.select("doc_id"), "doc_id", "left_semi"
        ).select("doc_id")
        prepared = self.docs_text.join(
            from_text, "doc_id", "left_semi"
        ).select("doc_id", tokenize_lemmatize_udf("text").alias("lemmas"))
        rows = positional_rows(prepared, g.n_shards)
        docs = prepared.select(shard_of(g.n_shards).alias("shard"), "doc_id")
        if fs_exists(self.spark, path):
            # collected off the possegs lineage: the overwrite below
            # replaces the files a cached or lazy frame would re-read
            kept = current_view(
                read_packed(self.spark, path, pinned=True),
                live.join(from_text, "doc_id", "left_anti"),
                unpack_positional,
            ).select(*rows.columns).collect()
            if kept:
                kept = self.spark.createDataFrame(kept, rows.schema)
                rows = rows.unionByName(kept)
                docs = docs.unionByName(
                    kept.select("shard", "doc_id").distinct())
        write_positional_segments(repack_positional(rows, docs=docs), path)
        # the rebuild is in sync with the served doc set by construction
        # — drop any crash-recovery staleness marker the overwrite may
        # have preserved (dynamic partitionOverwriteMode keeps root files)
        fs_delete(self.spark, f"{path}/_STALE")

    # -- /api/statistics -----------------------------------------------------

    def _statistics_uncached(self, g: Generation) -> dict:
        """StatisticsResponse dict: corpus-wide totals + per-site page
        and lemma counts (StatisticsServiceImpl.java:29-78 — pages =
        countBySite, lemmas = per-site distinct lemma count)."""
        per_site = (
            self.index.postings.select("doc_id", "term").join(
                self.doc_stats.select("doc_id", "site"), "doc_id"
            )
            .groupBy("site")
            .agg(
                F.count_distinct("doc_id").alias("pages"),
                F.count_distinct("term").alias("lemmas"),
            )
            .collect()
        )
        detailed = sorted(
            (
                {"url": r["site"], "pages": r["pages"], "lemmas": r["lemmas"]}
                for r in per_site
            ),
            key=lambda d: d["url"],
        )
        return {
            "result": True,
            "statistics": {
                "total": {
                    "sites": len(detailed),
                    "pages": self.n_docs,
                    "lemmas": len(g.df_map),
                    "indexing": False,
                },
                "detailed": detailed,
            },
        }

    # -- /api/indexPage ------------------------------------------------------

    def index_page(self, url: str, html: bytes | str | None = None,
                   text: str | None = None) -> dict:
        """Single-page (re)index (IndexingService.java:71-95): land the
        page as a delta run — visible to queries immediately via
        last-run-wins merge; stats refresh exactly at the next
        compaction (scripts/compact.py). Returns IndexingResponse-like
        {result, doc_id, run_id}."""
        if html is None and text is None:
            return {"result": False, "error": "html or text required"}
        if html is None:
            html = f"<html><body><p>{text}</p></body></html>"
        if isinstance(html, str):
            html = html.encode("utf-8")
        row_df = self.spark.createDataFrame(
            [(url, _DELTA_EPOCH, bytearray(html), text, "")],
            "url string, warc_ts timestamp, html binary, text string,"
            " lang string",
        )
        prepared = prepare_docs_counts(row_df, use_html=True)
        g = self._gen
        run_id = g.next_run_id
        write_delta_run(
            self.spark, prepared, self.base, self.term_stats,
            n_docs=self.n_docs, avgdl=self.avgdl,
            n_shards=g.n_shards, run_id=run_id,
        )
        # positional lifecycle parity: if this index carries positional
        # runs, land the page's positional DELTA run under the same
        # run_id — the page becomes phrase-searchable immediately via
        # the kernel's last-run-wins merge, and the next compaction
        # folds it (index/refresh.py repacks possegs alongside)
        from .index.manifest import fs_exists

        if fs_exists(self.spark, f"{self.base}/possegs"):
            from .index.positional import (
                build_positional_segments,
                write_positional_segments,
            )
            from .operators.postings import prepare_docs

            pos_prepared = prepare_docs(row_df, use_html=True).select(
                "doc_id", "lemmas"
            )
            write_positional_segments(
                build_positional_segments(
                    pos_prepared, g.n_shards, run_id=run_id
                ),
                f"{self.base}/possegs",
                mode="append",
            )
        # the hot dictionary must learn the delta's terms or they prune
        # as absent; unseen terms get df=1, mirroring the delta run's
        # stats approximation (segments.delta_segments fillna) — exact
        # df arrives with the next compaction's stats refresh. Every
        # posting of the page, known term or not, grows read_sizes.
        from .operators.postings import explode_term_counts

        df_map = _fork(g.df_map)
        sizes = ReadSizes(_fork(g.read_sizes.postings),
                          _fork(g.read_sizes.positions))
        for r in explode_term_counts(prepared).select("term", "tf").collect():
            sizes.add_posting(r["term"], r["tf"])
            df_map.setdefault(r["term"], 1)
        doc_id = prepared.select("doc_id").collect()[0]["doc_id"]
        segments, seg_docs, seg_rows, _, _ = self._open_segments()
        serve_meta, tombstoned, sizes.side_rows, _ = self._open_meta()
        # the positional runs changed (if any); the dictionary's key
        # set — all the fuzzy keys and complete()'s list read — only
        # if the page brought a new term
        learned = len(df_map.maps[0]) > len(g.df_map.maps[0])
        self._gen = g.evolve(
            () if learned else ("fuzzy", "terms"), segments=segments,
            seg_docs=seg_docs, seg_table_rows=seg_rows,
            serve_meta=serve_meta, tombstoned=tombstoned, df_map=df_map,
            read_sizes=sizes, next_run_id=run_id + 1)
        return {"result": True, "doc_id": int(doc_id), "run_id": run_id}

    def delete_page(self, url: str) -> dict:
        """Remove a page from serving immediately (reference analog:
        the reindex path's delete-old-postings step,
        IndexingService.java:152, exposed as a first-class delete —
        takedowns/opt-outs). Lands a tombstone meta row
        (index/segments.write_tombstones); the doc's postings stay
        packed until the next compaction, so serving consistency comes
        from the deny-list the packed kernels take: the doc vanishes
        from hits AND match counts in the same call. Unknown urls
        no-op with result=False."""
        g = self._gen
        doc_id = self._url_doc_id(url)
        run_id = g.next_run_id
        n = write_tombstones(self.spark, [doc_id], self.base, run_id)
        if not n:
            return {"result": False, "error": "url not in index"}
        serve_meta, tombstoned, side_rows, _ = self._open_meta()
        # segments, positional runs and the dictionary are unchanged
        self._gen = g.evolve(
            ("possegs", "pos_docs", "pos_stale", "pos_tables", "pos_side",
             "seg_tables", "seg_side", "fuzzy", "terms"),
            serve_meta=serve_meta,
            tombstoned=tombstoned, next_run_id=run_id + 1,
            read_sizes=dataclasses.replace(g.read_sizes, side_rows=side_rows))
        return {"result": True, "doc_id": doc_id, "run_id": run_id}

    # -- internals -----------------------------------------------------------

    def _facets_uncached(self, g: Generation, query: str, top: int = 10,
                         conjunctive: bool = True) -> dict:
        """Per-site facet counts of the match set ("N results from
        site X") → {result, facets: [{site, count}, ...]} ordered
        (count desc, site asc). Served by the packed facet kernel
        (index.wand.facet_counts_packed) over the same cached doc→site
        map collapse uses plus a cached (site_id, site) dimension —
        only per-shard facet partials ever leave a task. Tombstoned
        docs are excluded; the relational spec twin is
        operators.search.search_facets."""
        from .index.wand import facet_counts_packed

        rows = facet_counts_packed(
            self.spark, g.tf(), self.term_stats, g.serve_meta,
            self.n_docs, query, conjunctive=conjunctive, top=top,
            df_map=g.df_map, n_shards=g.n_shards,
            excluded_doc_ids=g.tombstoned,
            site_map=self._site_map(g), site_dim=self._site_dim(g),
        ).collect()
        return {
            "result": True,
            "facets": [
                {"site": r["site"], "count": int(r["n"])} for r in rows
            ],
        }

    def _site_dim(self, g: Generation) -> DataFrame:
        """(site_id, site) dimension for facet responses — cached per
        generation alongside the site map."""
        return g.lazy("site_dim", lambda: g.serve_meta.select(
            F.xxhash64("site").alias("site_id"), "site"
        ).distinct())

    def _site_map(self, g: Generation) -> DataFrame:
        """doc→site_id map for collapse and facet requests, keyed to the
        doc-space shards, repartitioned by shard and cached once per
        generation, so a collapse query's cogroup reuses the cached
        partitioning instead of re-shuffling |corpus| rows per
        request."""
        from .index.wand import site_map_frame

        return g.lazy("site_map", lambda: site_map_frame(
            g.serve_meta, g.n_shards
        ).repartition(g.n_shards, "shard"))

    def _fuzzy_keys(self, g: Generation) -> DataFrame:
        """SymSpell delete-1 key table over the served dictionary,
        built once per generation and cached (operators/fuzzy.py
        documents the trap this avoids: without it every
        suggest/correct request re-explodes the whole dictionary — a
        full dictionary pass per query at a 10^9-term dictionary). At
        web scale this table is materialized key-partitioned next to
        term_stats offline; the cache here is the local[N] stand-in."""
        from .operators.fuzzy import deletion_key_index

        # the delta layer holds the delta-learned terms (df=1 until
        # compaction refreshes stats) — disjoint from the base
        # dictionary by construction, plain union suffices
        return g.lazy("fuzzy", lambda: deletion_key_index(
            self.term_stats.select("term", "df").unionByName(
                self.spark.createDataFrame(
                    sorted(g.df_map.maps[0].items()), "term string, df bigint"
                )
            )
        ))

    def _open_segments(
        self,
    ) -> tuple[DataFrame, DataFrame, int, int, int | None]:
        """The packed TF tree, pinned: its rows cached, its doc tables
        (uncached) and their row count, and the rows' newest run id and
        largest shard id (that action also fills the cache)."""
        tree = read_packed(self.spark, f"{self.base}/segments", pinned=True)
        segments = tree.rows.cache()
        top_run, top_shard = segments.agg(
            F.max("run_id"), F.max("shard")
        ).collect()[0]
        return (segments, tree.docs, tree.docs.count(), int(top_run or 0),
                top_shard)

    def _open_meta(self) -> tuple[DataFrame, list | None, int, int]:
        """The serving meta (cached), the deny-list, the serving meta's
        row count and the newest meta run, tombstones included."""
        # serving meta = doc-level last-wins across base doc_stats AND
        # delta meta runs (minus tombstones) — a delta-landed doc must
        # resolve its url/site before any compaction runs
        resolved = _doc_meta_resolved(self.spark, self.base)
        serve_meta = (
            resolved.filter(~F.col("deleted"))
            .select("doc_id", "url", "site", "title")
            .cache()
        )
        n = serve_meta.count()
        # deny-list: tombstoned docs whose postings are still packed
        # (deletes since the last compaction — bounded by compaction
        # cadence, not corpus size; compaction drops them from the
        # resolved meta entirely, emptying this list)
        dead, top_mrun = resolved.agg(
            F.collect_list(F.when(F.col("deleted"), F.col("doc_id"))),
            F.max("mrun"),
        ).collect()[0]
        return serve_meta, list(dead) or None, n, int(top_mrun or 0)

    def _lookup(self, frame: DataFrame, ids: list, *cols) -> dict:
        """{doc_id: Row(doc_id, *cols)} for ≤k ids of a doc_id-keyed
        frame: one filtered collect — no join, no sort (callers keep
        their own ranked order), and no Spark job at all for no ids."""
        if not ids:
            return {}
        return {
            r["doc_id"]: r
            for r in frame.filter(F.col("doc_id").isin([int(d) for d in ids]))
            .select("doc_id", *cols).collect()
        }

    def _items(self, g: Generation, hits: list,
               value: str = "relevance") -> list[dict]:
        """Ranked (doc_id, value) hits → SearchItem dicts in hit order.
        url/title resolve through serve_meta (doc-level last-wins incl.
        delta runs); a hit it does not serve drops."""
        meta = self._lookup(
            g.serve_meta, [d for d, _ in hits], "url", "title"
        )
        data = []
        for d, v in hits:
            r = meta.get(int(d))
            if r is None:
                continue
            url = r["url"]
            slash = url.find("/", url.find("://") + 3)
            data.append({
                "site": url[:slash] if slash != -1 else url,
                "uri": url[slash:] if slash != -1 else "/",
                "url": url,
                "doc_id": int(d),
                "title": r["title"],
                value: v,
            })
        return data

    def _url_doc_id(self, url: str) -> int:
        """The index identity of a url: xxhash64 of its canonical form
        (operators/postings.prepare_docs_counts' doc_id rule)."""
        from .functions.urlnorm import canonical_url

        return int(
            self.spark.createDataFrame([(url,)], "url string")
            .select(F.xxhash64(canonical_url(F.col("url"))).alias("d"))
            .collect()[0]["d"]
        )

    def close(self) -> None:
        self._gen.retire()
        for df in (self.doc_stats, self.term_stats):
            df.unpersist()
        if self.static_rank is not None:
            self.static_rank[0].unpersist()
