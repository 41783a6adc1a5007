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
merge. Every read endpoint then assembles its page the same way
(`_items`): ONE filtered collect of the ranked page's ≤k ids from the
cached serving meta (`_lookup` — no join, no re-sort; items keep the
kernel merge's order), plus one more over docs_text when snippets are
rendered. statistics is one aggregation over cached doc/term stats; an
indexPage lands a delta run (append-only) and invalidates only the
segment cache. At cluster scale the same object runs on a driver
serving a Spark Connect or Thrift endpoint.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index.refresh import _doc_meta_resolved, recover
from .index.segments import write_delta_run, write_tombstones
from .index.wand import search_packed_fused
from .operators.postings import prepare_docs_counts, read_index
from .operators.search import corpus_constants

_DELTA_EPOCH = dt.datetime(2024, 1, 1)


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
        # hot dictionary: one collect at open, every query served from it
        self.df_map = {
            r["term"]: r["df"] for r in self.term_stats.collect()
        }
        # sorted dictionary keys for complete() — built lazily,
        # dropped whenever df_map learns terms
        self._sorted_terms: list | None = None
        # terms df_map learned from delta runs (disjoint from the base
        # term_stats by construction) — the fuzzy key table unions
        # them in so suggest/correct see what search sees
        self._delta_terms: set[str] = set()
        # bounded response cache for the read endpoints (see _cached);
        # cache_responses=False serves every request uncached (bench
        # uses it so min-of-N latency measures the kernels, not hits)
        self._cache_responses = cache_responses
        self._response_cache: dict = {}
        # positional runs: read (or built) on the first phrase request
        self.pos_segments: DataFrame | None = None
        self._pos_stale = False
        self._open_segments()
        # optional query-independent authority table
        # (linkgraph.write_static_rank) enabling blended ranking; the
        # frame stays DISTRIBUTED (|corpus| rows — only the ≤K'
        # candidates of a blend request ever reach the driver)
        self.static_rank: DataFrame | None = None
        self._rank_n = 0
        self.reload_static_rank()

    # -- response cache ------------------------------------------------------

    _CACHE_MAX = 256

    def _cached(self, key: tuple, compute):
        """Serve repeated identical read requests from memory — the
        front-tier result cache every production engine runs. ANY
        index mutation clears it wholesale (`_open_segments`, which
        index_page/delete_page funnel through; `refresh_positional`;
        `reload_static_rank`) — correctness by invalidation, not by
        TTL, so a request after a write always recomputes. Bounded
        FIFO (oldest-inserted evicted at _CACHE_MAX); entries are
        deep-copied in AND out so callers cannot mutate cached
        state."""
        import copy

        if not self._cache_responses:
            return compute()
        hit = self._response_cache.get(key)
        if hit is not None:
            return copy.deepcopy(hit)
        out = compute()
        if len(self._response_cache) >= self._CACHE_MAX:
            self._response_cache.pop(next(iter(self._response_cache)))
        self._response_cache[key] = copy.deepcopy(out)
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
            lambda: self._search_uncached(
                query, site=site, offset=offset, limit=limit,
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
            lambda: self._facets_uncached(
                query, top=top, conjunctive=conjunctive),
        )

    def complete(self, prefix: str, topn: int = 10) -> dict:
        """Query autocomplete: dictionary terms starting with `prefix`
        ranked (df desc, term asc) — the same bounded-expansion rule as
        prefix retrieval (operators/prefix.expand_prefix), served
        driver-side from the hot term dictionary via one bisect over a
        lazily-built sorted key list (no Spark job; rebuilt when
        index_page teaches the dictionary new delta terms). At cluster
        scale the dictionary is a term-sorted table and this is a
        row-group-pruned range scan. → {result, completions:
        [{term, df}, …]}."""
        if not prefix:
            return {"result": True, "completions": []}

        def _compute():
            import bisect

            terms = self._sorted_terms
            if terms is None:
                terms = self._sorted_terms = sorted(self.df_map)
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
            hits = sorted(
                ((t, self.df_map[t]) for t in terms[lo:hi]),
                key=lambda td: (-td[1], td[0]),
            )[:topn]
            return {
                "result": True,
                "completions": [
                    {"term": t, "df": int(df)} for t, df in hits
                ],
            }

        return self._cached(("complete", prefix, topn), _compute)

    def phrase(self, query: str, limit: int = 20) -> dict:
        return self._cached(
            ("phrase", query, limit),
            lambda: self._phrase_uncached(query, limit=limit),
        )

    def boolean(self, query: str, limit: int = 20,
                site: str | None = None, offset: int = 0) -> dict:
        return self._cached(
            ("boolean", query, limit, site, offset),
            lambda: self._boolean_uncached(
                query, limit=limit, site=site, offset=offset),
        )

    def prefix(self, pfx: str, limit: int = 20,
               max_expansions: int = 50) -> dict:
        return self._cached(
            ("prefix", pfx, limit, max_expansions),
            lambda: self._prefix_uncached(
                pfx, limit=limit, max_expansions=max_expansions),
        )

    def suggest(self, word: str, topn: int = 10) -> list[dict]:
        return self._cached(
            ("suggest", word, topn),
            lambda: self._suggest_uncached(word, topn=topn),
        )

    def more_like_this(self, url: str, limit: int = 20,
                       max_terms: int = 25) -> dict:
        return self._cached(
            ("mlt", url, limit, max_terms),
            lambda: self._mlt_uncached(url, limit=limit,
                                       max_terms=max_terms),
        )

    def statistics(self) -> dict:
        return self._cached(
            ("statistics",), lambda: self._statistics_uncached()
        )

    def reload_static_rank(self) -> None:
        """(Re-)read `<base>/staticrank`. Call after an offline rank
        rebuild (`linkgraph.build_static_rank` over the refreshed
        corpus — the graph is corpus-derived, so rank refresh is a
        batch job, not a per-page delta); blended requests serve the
        new table immediately. Absent table → blend requests raise."""
        from .index.manifest import fs_exists

        self._response_cache.clear()
        if self.static_rank is not None:
            self.static_rank.unpersist()
        self.static_rank = None
        self._rank_n = 0
        if fs_exists(self.spark, f"{self.base}/staticrank"):
            self.static_rank = self.spark.read.parquet(
                f"{self.base}/staticrank"
            ).cache()
            self._rank_n = self.static_rank.count()
            if self._rank_n == 0:
                # an empty table is as unservable as an absent one —
                # treat it the same so blend raises the clear error
                # instead of dividing by zero in _blend_hits
                self.static_rank.unpersist()
                self.static_rank = None

    # -- /api/search ---------------------------------------------------------

    def _search_uncached(
        self,
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
        in the same applyInPandas call. Cursor pages (`after`) read
        the cursor-independent count from a per-generation cache and
        ask the kernel for it only on a miss.

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
        over a per-index-generation cached doc→site map (see
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
        if after is not None and collapse is not None and (
            after_sites is None
        ):
            raise ValueError(
                "search_after with collapse needs after_sites — the "
                "per-site served counts the previous page returned as "
                "response['site_counts'] (an exact collapsed cursor "
                "is stateful)"
            )
        if after_sites is not None and (after is None or collapse is None):
            raise ValueError("after_sites needs after AND collapse")
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
            q_lemmas, corrections = self._correct_lemmas(q_lemmas)
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
        # conjunctive) and index generation (_open_segments clears the
        # cache on any write): a cursor page asks the kernel for it
        # only on a miss. Only counts over the verbatim query seed it —
        # corrections/synonyms rewrite q_lemmas (a cursor page cannot
        # combine with them) and a collapse count is diversity-capped
        ckey = (query, site, conjunctive)
        count = (
            self._match_count_cache.get(ckey)
            if after is not None and collapse is None else None
        )
        hits, fused_count = search_packed_fused(
            self.spark, self.segments, self.term_stats, self.n_docs,
            self.avgdl, query, lemmas=q_lemmas, k=k_fetch,
            offset=offset if blend is None else 0, site=site,
            mode=mode, conjunctive=conjunctive, df_map=self.df_map,
            doc_stats=self.serve_meta, n_shards=self.n_shards,
            excluded_doc_ids=self.tombstoned,
            collapse_n=collapse,
            site_map=(
                self._get_site_map() if collapse is not None else None
            ),
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
            ckey not in self._match_count_cache
        ):
            if len(self._match_count_cache) >= self._CACHE_MAX:
                self._match_count_cache.pop(
                    next(iter(self._match_count_cache))
                )
            self._match_count_cache[ckey] = count
        parts = None
        if blend is not None:
            reranked = self._blend_hits(hits, blend)[offset:offset + limit]
            hits = [(d, b) for d, b, _, _ in reranked]
            parts = {d: (s, a) for d, _, s, a in reranked}
        data = self._items(hits)
        if snippets:
            from .functions.udfs import snippet_udf

            snip = snippet_udf(q_lemmas, 3, mode=self.snippet_mode)
            texts = self._lookup(
                self.docs_text, [d["doc_id"] for d in data],
                snip(F.col("text")).alias("snippet"),
            )
            for item in data:
                # a page landed by index_page has no docs_text row
                row = texts.get(item["doc_id"])
                item["snippet"] = row["snippet"] if row else ""
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
        self, lemmas: list[str]
    ) -> tuple[list[str], dict[str, str]]:
        """Replace dictionary-absent lemmas by their best
        edit-distance-1 term (SymSpell keyed lookup, ranked df desc /
        term asc — operators/fuzzy.py); known lemmas pass through
        untouched, uncorrectable ones drop (the reference's silent
        unknown-lemma behavior). Order-preserving dedup keeps the
        query's term-set semantics when a correction lands on an
        already-present term."""
        from .operators.fuzzy import suggest_terms_multi

        unknown = [t for t in dict.fromkeys(lemmas) if t not in self.df_map]
        corrections: dict[str, str] = {}
        if unknown:
            # ONE keyed lookup job for the whole query (VERDICT r4):
            # all unknown lemmas batch into a single join against the
            # precomputed deletion-key table
            best = {
                r["word"]: r["term"]
                for r in suggest_terms_multi(
                    self.term_stats, unknown, topn=1,
                    key_index=self._get_fuzzy_keys(),
                ).collect()
            }
            corrections = {t: best[t] for t in unknown if t in best}
        fixed: dict[str, None] = {}
        for t in lemmas:
            if t in self.df_map:
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

        if self.static_rank is None:
            raise ValueError(
                "blend needs a static-rank table at <base>/staticrank "
                "(operators/linkgraph.write_static_rank)"
            )
        ranks = self._lookup(self.static_rank, [d for d, _ in hits], "rank")
        unit = PR_SCALE / self._rank_n
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
        same boosted kernels search would run."""
        from .index.wand import (
            _resolve_fweights, _resolve_terms, _wand_frame,
        )
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
        fweights = _resolve_fweights(mode, field_weights)
        lemmas = lemmatize_query(query)
        terms = _resolve_terms(
            self.term_stats, self.n_docs, lemmas, 0.95, self.df_map
        )
        out = {
            "result": True,
            "query": query,
            "lemmas": lemmas,
            "terms": [{"term": t, "df": self.df_map[t]} for t in terms],
            "shards": 0,
            "n_postings": 0,
            "n_blocks": 0,
            "n_blocks_decoded": 0,
            "blocks_decoded_pct": 0.0,
            "n_candidates": 0,
            "n_scored": 0,
            "theta_max": 0.0,
        }
        if not terms:
            return out
        rows = _wand_frame(
            self.segments, terms, self.n_docs, self.avgdl, limit,
            conjunctive, mode, site=site, doc_stats=self.serve_meta,
            n_shards=self.n_shards, excluded_doc_ids=self.tombstoned,
            boosts=boosts, fweights=fweights,
        ).filter("is_trailer").collect()
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

    def _phrase_uncached(self, query: str, limit: int = 20) -> dict:
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
            phrase_search_packed_terms,
            phrase_search_packed_topk_count,
        )

        phr = tokenize_lemmatize(query)
        if not phr:
            return {"result": True, "count": 0, "data": []}
        self._ensure_positional()
        if not self._pos_stale:
            # hot path: ONE kernel pass per shard returns the shard's
            # top-k rows AND its match count (the trailer row of the
            # shared kernel contract). Exact because an in-sync possegs
            # references only servable-or-tombstoned docs, and
            # tombstones are deny-listed inside the kernel; the stale
            # snapshot a crash-recovery discard can leave (_STALE
            # marker) routes through the exact semi-join path below
            # instead.
            page, count = merge_phrase_rows(
                phrase_search_packed_topk_count(
                    self.spark, self.pos_segments, phr, limit,
                    excluded_doc_ids=self.tombstoned or None,
                ).collect(),
                limit,
            )
        else:
            hits = phrase_search_packed_terms(
                self.spark, self.pos_segments, phr
            )
            if self.tombstoned:
                hits = hits.filter(~F.col("doc_id").isin(self.tombstoned))
            # count only SERVABLE docs (semi-join the living meta): a
            # stale possegs snapshot — possible after a crash-recovery
            # discard — may still hold rows for docs compaction removed
            hits = hits.join(
                self.serve_meta.select("doc_id"), "doc_id", "left_semi"
            )
            count = hits.count()
            page = [
                (r["doc_id"], r["phrase_tf"])
                for r in hits.orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
                .limit(limit).collect()
            ]
        return {"result": True, "count": count,
                "data": self._items(page, "phrase_tf")}

    # -- /api/boolean (beyond-reference) ---------------------------------------

    def _boolean_uncached(
        self,
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
            self.spark, self.segments, self.n_docs, self.avgdl, query,
            k=limit, excluded_doc_ids=self.tombstoned, site=site,
            offset=offset, doc_stats=self.serve_meta,
            n_shards=self.n_shards,
        )
        return {"result": True, "count": count, "data": self._items(hits)}

    # -- /api/prefix (beyond-reference) ----------------------------------------

    def _prefix_uncached(self, pfx: str, limit: int = 20,
               max_expansions: int = 50) -> dict:
        """Wildcard retrieval (``spar*``): bounded dictionary
        expansion ranked (df desc, term) then disjunctive block-max
        WAND over the expanded terms (operators/prefix.py). Deletes
        honored via the tombstone deny-list."""
        from .operators.prefix import prefix_search_packed

        hits = prefix_search_packed(
            self.spark, self.segments, self.term_stats, self.n_docs,
            self.avgdl, pfx, k=limit, max_expansions=max_expansions,
            excluded_doc_ids=self.tombstoned,
        ).collect()
        return {"result": True, "data": self._items(
            [(r["doc_id"], r["score"]) for r in hits]
        )}

    # -- /api/suggest (beyond-reference) ---------------------------------------

    def _suggest_uncached(self, word: str, topn: int = 10) -> list[dict]:
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
                key_index=self._get_fuzzy_keys(),
            ).collect()
        ]

    # -- /api/moreLikeThis (beyond-reference) ----------------------------------

    def _mlt_uncached(self, url: str, limit: int = 20,
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
        if not self._lookup(self.serve_meta, [doc_id]):
            return {"result": False, "error": "url not in index"}
        row = self._lookup(self.docs_text, [doc_id], "text").get(doc_id)
        if row is None or row["text"] is None:
            return {"result": False, "error": "document text unavailable"}
        counts = Counter(textproc.tokenize_lemmatize(row["text"]))
        terms = select_mlt_terms(
            dict(counts), self.df_map, self.n_docs, max_terms
        )
        if not terms:
            return {"result": True, "count": 0, "terms": [], "data": []}
        excluded = list(self.tombstoned or []) + [doc_id]
        hits, count = search_packed_fused(
            self.spark, self.segments, self.term_stats, self.n_docs,
            self.avgdl, query=" ".join(terms), lemmas=terms, k=limit,
            conjunctive=False, df_map=self.df_map,
            doc_stats=self.serve_meta, n_shards=self.n_shards,
            excluded_doc_ids=excluded,
        )
        return {"result": True, "count": count, "terms": terms,
                "data": self._items(hits)}

    def refresh_positional(self) -> None:
        """Rebuild the positional snapshot from the docs_text rows of
        the docs the index serves now (e.g. after index_page calls) and
        swap the cache."""
        self._response_cache.clear()
        if self.pos_segments is not None:
            self.pos_segments.unpersist()
        self.pos_segments = None
        self._build_positional()
        self._ensure_positional()

    def _ensure_positional(self) -> None:
        if self.pos_segments is not None:
            return
        from pyspark.errors import AnalysisException

        from .index.manifest import fs_exists

        try:
            df = self.spark.read.parquet(f"{self.base}/possegs")
        except AnalysisException:
            self._build_positional()
            df = self.spark.read.parquet(f"{self.base}/possegs")
        # a crash-recovery discard (refresh._recover_pos) marks a kept
        # pre-compaction snapshot: its rows may reference docs the main
        # index no longer serves, so phrase counts must go through the
        # exact serve_meta semi-join instead of the fused kernel until
        # a repack/rebuild replaces the tree (which drops the marker)
        self._pos_stale = fs_exists(
            self.spark, f"{self.base}/possegs/_STALE"
        )
        self.pos_segments = df.cache()
        self.pos_segments.count()

    def _build_positional(self) -> None:
        from .functions.udfs import tokenize_lemmatize_udf
        from .index.positional import (
            build_positional_segments,
            write_positional_segments,
        )

        if self.docs_text is None:
            raise ValueError(
                "phrase search needs docs_text at open (to build the "
                "positional runs) or a prebuilt <base>/possegs"
            )
        # only docs the index serves get positional runs: a docs_text
        # row with no living doc would otherwise count in phrase()
        # without an item to serve
        prepared = self.docs_text.join(
            self.serve_meta.select("doc_id"), "doc_id", "left_semi"
        ).select("doc_id", tokenize_lemmatize_udf("text").alias("lemmas"))
        write_positional_segments(
            build_positional_segments(prepared, self.n_shards),
            f"{self.base}/possegs",
        )
        # the rebuild is in sync with the served doc set by construction
        # — drop any crash-recovery staleness marker the overwrite may
        # have preserved (dynamic partitionOverwriteMode keeps root files)
        from .index.manifest import fs_delete

        fs_delete(self.spark, f"{self.base}/possegs/_STALE")
        self._pos_stale = False

    # -- /api/statistics -----------------------------------------------------

    def _statistics_uncached(self) -> dict:
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
                    "lemmas": len(self.df_map),
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
        run_id = self._next_run_id()
        write_delta_run(
            self.spark, prepared, self.base, self.term_stats,
            n_docs=self.n_docs, avgdl=self.avgdl,
            n_shards=self.n_shards, run_id=run_id,
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
                    pos_prepared, self.n_shards, run_id=run_id
                ),
                f"{self.base}/possegs",
                mode="append",
            )
            if self.pos_segments is not None:  # cached snapshot is stale
                self.pos_segments.unpersist()
                self.pos_segments = None
        self._open_segments()  # delta appended → segment cache is stale
        # the hot dictionary must learn the delta's terms or they prune
        # as absent; unseen terms get df=1, mirroring the delta run's
        # stats approximation (segments.delta_segments fillna) — exact
        # df arrives with the next compaction's stats refresh
        from .operators.postings import explode_term_counts

        for r in (
            explode_term_counts(prepared).select("term").distinct().collect()
        ):
            t = r["term"]
            if t not in self.df_map:
                self._delta_terms.add(t)
                self.df_map[t] = 1
        self._sorted_terms = None  # complete() must see the new terms
        doc_id = prepared.select("doc_id").collect()[0]["doc_id"]
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
        doc_id = self._url_doc_id(url)
        run_id = self._next_run_id()
        n = write_tombstones(self.spark, [doc_id], self.base, run_id)
        if not n:
            return {"result": False, "error": "url not in index"}
        self._open_segments()  # refresh serve_meta + deny-list
        return {"result": True, "doc_id": doc_id, "run_id": run_id}

    # -- internals -----------------------------------------------------------

    def _facets_uncached(self, query: str, top: int = 10,
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
            self.spark, self.segments, self.term_stats, self.serve_meta,
            self.n_docs, query, conjunctive=conjunctive, top=top,
            df_map=self.df_map, n_shards=self.n_shards,
            excluded_doc_ids=self.tombstoned,
            site_map=self._get_site_map(), site_dim=self._get_site_dim(),
        ).collect()
        return {
            "result": True,
            "facets": [
                {"site": r["site"], "count": int(r["n"])} for r in rows
            ],
        }

    def _get_site_dim(self):
        """(site_id, site) dimension for facet responses — cached per
        index generation alongside the site map."""
        if self._site_dim_df is None:
            self._site_dim_df = (
                self.serve_meta.select(
                    F.xxhash64("site").alias("site_id"), "site"
                ).distinct().cache()
            )
            self._site_dim_df.count()
        return self._site_dim_df

    def _get_site_map(self):
        """doc→site_id map for collapse requests, keyed to the doc-space
        shards, repartitioned by shard and cached — built ONCE per index
        generation (invalidated by _open_segments), so a collapse query's
        cogroup reuses the cached partitioning instead of re-shuffling
        |corpus| rows per request."""
        from .index.wand import site_map_frame

        if self._site_map_df is None:
            self._site_map_df = (
                site_map_frame(self.serve_meta, self.n_shards)
                .repartition(self.n_shards, "shard")
                .cache()
            )
            self._site_map_df.count()
        return self._site_map_df

    def _get_fuzzy_keys(self):
        """SymSpell delete-1 key table over the open-time term_stats
        snapshot, built ONCE per index generation and cached
        (operators/fuzzy.py documents the trap this avoids: without
        it every suggest/correct request re-explodes the whole
        dictionary — a full dictionary pass per query at a 10^9-term
        dictionary). Same lifecycle as the site map: lazily built,
        invalidated by _open_segments. At web scale this table is
        materialized key-partitioned next to term_stats offline; the
        cache here is the local[N] stand-in."""
        from .operators.fuzzy import deletion_key_index

        if self._fuzzy_keys_df is None:
            dict_df = self.term_stats.select("term", "df")
            if self._delta_terms:
                # delta-learned terms (df=1 until compaction refreshes
                # stats, mirroring df_map) — disjoint from the base
                # dictionary by construction, plain union suffices
                dict_df = dict_df.unionByName(
                    self.spark.createDataFrame(
                        [(t, self.df_map[t])
                         for t in sorted(self._delta_terms)],
                        "term string, df bigint",
                    )
                )
            self._fuzzy_keys_df = deletion_key_index(dict_df).cache()
            self._fuzzy_keys_df.count()
        return self._fuzzy_keys_df

    def _open_segments(self) -> None:
        # every index mutation funnels through here — drop cached
        # responses before swapping the serving state
        self._response_cache.clear()
        self._match_count_cache: dict = {}
        self._drop_generation()
        self.segments = self.spark.read.parquet(
            f"{self.base}/segments"
        ).cache()
        self.segments.count()
        # serving meta = doc-level last-wins across base doc_stats AND
        # delta meta runs (minus tombstones) — a delta-landed doc must
        # resolve its url/site before any compaction runs
        resolved = _doc_meta_resolved(self.spark, self.base)
        self.serve_meta = (
            resolved.filter(~F.col("deleted"))
            .select("doc_id", "url", "site", "title")
            .cache()
        )
        self.serve_meta.count()
        # deny-list: tombstoned docs whose postings are still packed
        # (deletes since the last compaction — bounded by compaction
        # cadence, not corpus size; compaction drops them from the
        # resolved meta entirely, emptying this list)
        self.tombstoned = [
            r["doc_id"]
            for r in resolved.filter(F.col("deleted"))
            .select("doc_id").collect()
        ] or None
        # shard mapping: the build manifest is authoritative (checked
        # on resume — index/manifest.py); fall back to the observed
        # max shard id for indexes built without one
        from .index.manifest import read_manifest

        rec = (
            read_manifest(self.spark, self.base)
            .filter(F.col("stage") == "pack_segments")
            .select("n_shards").distinct().collect()
        )
        if len(rec) == 1:
            self.n_shards = int(rec[0]["n_shards"])
        else:
            self.n_shards = int(
                self.segments.agg(F.max("shard")).collect()[0][0]
            ) + 1

    def _next_run_id(self) -> int:
        top = self.segments.agg(F.max("run_id")).collect()[0][0]
        return int(top or 0) + 1

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

    def _items(self, hits: list, value: str = "relevance") -> list[dict]:
        """Ranked (doc_id, value) hits → SearchItem dicts in hit order.
        url/title resolve through serve_meta (doc-level last-wins incl.
        delta runs); a hit it does not serve drops."""
        meta = self._lookup(
            self.serve_meta, [d for d, _ in hits], "url", "title"
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

    # frames cached per index generation: _open_segments drops and
    # rebuilds them on every write, close() drops them for good
    _GENERATION = ("segments", "serve_meta", "_fuzzy_keys_df",
                   "_site_map_df", "_site_dim_df")

    def _drop_generation(self) -> None:
        for name in self._GENERATION:
            df = getattr(self, name, None)
            if df is not None:
                df.unpersist()
            setattr(self, name, None)

    def close(self) -> None:
        self._drop_generation()
        for df in (self.doc_stats, self.term_stats, self.static_rank,
                   self.pos_segments):
            if df is not None:
                df.unpersist()
