"""Seeded inputs for the benchmark: corpora and request streams.

Everything here is a pure function of the workload seed. The engine
only ever sees the generated documents and requests; request streams
are drawn from the generators' own vocabularies (the webtext word
pools, the Zipf rank table), never from a built index's dictionary, so
a build bug cannot reshape the traffic.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from searchengine_spark.functions.lemma_dict import LEMMA_DICT
from searchengine_spark.sources import corpus

LIMIT = 20  # page size of every read request (the service default)
N_SITES = corpus.N_SITES
REPEAT_GAP = 4


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# ---------------------------------------------------------------------------
# webtext: the repo's synthetic Common-Crawl-style corpus
# ---------------------------------------------------------------------------


def webtext_docs(seed: int, n_docs: int) -> pd.DataFrame:
    """`sources.corpus.gen_rows` at a seed-derived block of row ids: a
    different seed is a different corpus with the same statistics
    (duplicates, near-duplicates, the ~98%-DF `data` term)."""
    first = 1_000_000 * (1 + int(seed) % 2000)
    return pd.DataFrame(corpus.gen_rows(range(first, first + n_docs)))


def _webtext_pools():
    """(surfaces, zipf weights) per language, from the corpus word pools
    (inflected surface forms, stop words and OOV words included)."""
    out = {}
    for lang in ("ru", "en"):
        pool = corpus._pool(lang)
        out[lang] = (pool, corpus._zipf_probs(len(pool)))
    return out


HOMOGRAPHS = sorted(s for s, lemmas in LEMMA_DICT.items() if len(lemmas) > 1)


# One block of the serve-read stream: `search` slots are fresh searches,
# `repeat` slots repeat a fresh search of the same block at least
# REPEAT_GAP requests back (a response-cache hit once it has returned).
WEBTEXT_SLOTS = ("search", "search", "snippets", "search", "phrase",
                 "repeat", "search", "boolean", "search", "repeat",
                 "search")
WEBTEXT_BLOCK = len(WEBTEXT_SLOTS)
# terms and conjunctive flag of each kind of fresh search; fixed, so a
# seed changes the words of a block but not its shape
FRESH_SHAPES = {"plain": (2, True), "site": (1, False), "page2": (3, False),
                "bm25f": (2, False), "cheap": (3, True), "odd": (2, False)}


def webtext_requests(seed: int, docs: pd.DataFrame, n: int) -> list[dict]:
    """The serve-read mix, in blocks of WEBTEXT_SLOTS so every block
    has the same make-up and order: 8 page-1-style `search` (2 of them
    repeats), 1 `search(snippets=True)`, 1 `phrase` and 1 `boolean`.
    A block's 6 fresh searches are, in shuffled order: a plain one, one
    with a site filter, one asking for page 2, one bm25f, one cheap
    special query (a stop-only query or the ~98%-DF `data` term, in
    turn: both return before any posting is read) and one odd query (a
    homograph or an absent term next to a real one, in turn). Their
    term counts and conjunctive flags follow FRESH_SHAPES; snippets
    are asked for a 2-term disjunctive query."""
    rng = _rng(seed, 1)
    pools = _webtext_pools()
    stops = sorted(corpus.STOP_SURFACES)
    stop_set = set(stops)
    texts = docs["text"].tolist()
    absent = f"qzx{int(seed) % 9973}vbn"

    def words(k: int, content: bool = False) -> list[str]:
        lang = "ru" if rng.random() < 0.6 else "en"
        pool, p = pools[lang]
        if content:  # boolean leaves must survive the stop filter
            keep = np.array([w not in stop_set for w in pool])
            pool, p = list(np.array(pool)[keep]), p[keep] / p[keep].sum()
        return [pool[i] for i in rng.choice(len(pool), size=k, p=p)]

    def special(v: str, block: int) -> str:
        if v == "cheap":
            return (" ".join(rng.choice(stops, size=FRESH_SHAPES[v][0]))
                    if block % 2 else "data")
        return (f"{rng.choice(HOMOGRAPHS)} {words(1)[0]}" if block % 2
                else f"{absent} {words(1)[0]}")

    out: list[dict] = []
    block = 0
    while len(out) < n:
        variants = ["plain", "site", "page2", "bm25f", "cheap", "odd"]
        rng.shuffle(variants)
        fresh: list[int] = []  # positions of this block's fresh searches
        for slot in WEBTEXT_SLOTS:
            i = len(out)
            if slot == "repeat":
                old = [j for j in fresh if j <= i - REPEAT_GAP]
                out.append(dict(out[old[int(rng.integers(len(old)))]],
                                repeat=True))
                continue
            if slot == "phrase":
                toks = texts[int(rng.integers(len(texts)))].split()
                k = int(rng.integers(max(1, len(toks) - 1)))
                out.append({"kind": "phrase", "query": " ".join(toks[k:k + 2])})
                continue
            if slot == "boolean":
                a, b, c = words(3, content=True)
                out.append({"kind": "boolean", "query": (
                    f"({a} OR {b}) AND {c}", f"{a} AND NOT {b}", f"{a} OR {b}",
                )[int(rng.integers(3))]})
                continue
            if slot == "snippets":
                v, (k, conj) = "plain", (2, False)
            else:
                v = variants.pop()
                k, conj = FRESH_SHAPES[v]
                fresh.append(i)
            req = {"kind": slot,
                   "query": (special(v, block) if v in ("cheap", "odd")
                             else " ".join(words(k))),
                   "conjunctive": conj,
                   "site": None, "offset": 0, "mode": "bm25"}
            if v == "site":
                req["site"] = f"site{int(rng.integers(N_SITES))}.example"
            elif v == "page2":
                req["offset"] = LIMIT
            elif v == "bm25f":
                req["mode"], req["conjunctive"] = "bm25f", False
            out.append(req)
        block += 1
    return [dict(r, limit=LIMIT) for r in out[:n]]


# ---------------------------------------------------------------------------
# Zipf: synthetic vocabulary w00000..w{V-1} drawn by rank
# ---------------------------------------------------------------------------

ZIPF_VOCAB = 5_000
ZIPF_LEN = (8, 24)  # tokens per doc, uniform inclusive


def _zipf_p(vocab: int = ZIPF_VOCAB) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64)
    return p / p.sum()


def zipf_docs(seed: int, n_docs: int) -> pd.DataFrame:
    """Text-only docs over a Zipf(s=1) vocabulary: a few head ranks hit
    most docs (many-block posting lists), the tail is genuinely rare."""
    rng = _rng(seed, 2)
    cdf = np.cumsum(_zipf_p())
    lens = rng.integers(ZIPF_LEN[0], ZIPF_LEN[1] + 1, size=n_docs)
    ranks = np.searchsorted(cdf, rng.random(int(lens.sum())))
    ranks = np.minimum(ranks, ZIPF_VOCAB - 1)
    words = np.char.add("w", np.char.zfill(ranks.astype(str), 5))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    first = 1_000_000 * (1 + int(seed) % 2000)
    rows = []
    for i in range(n_docs):
        rid = first + i
        rows.append({
            "url": f"https://zipf{rid % N_SITES}.example/page{rid}",
            "warc_ts": corpus._BASE_TS,
            "html": None,
            "text": " ".join(words[bounds[i]:bounds[i + 1]].tolist()),
            "lang": "en",
        })
    return pd.DataFrame(rows)


def zipf_expected_df(n_docs: int) -> np.ndarray:
    """Expected document frequency of every rank, from the generator's
    own distribution (doc length uniform over ZIPF_LEN)."""
    p = _zipf_p()
    lens = np.arange(ZIPF_LEN[0], ZIPF_LEN[1] + 1)
    miss = np.mean([(1.0 - p) ** L for L in lens], axis=0)
    return n_docs * (1.0 - miss)


def zipf_bands(n_docs: int) -> dict[str, list[str]]:
    """Ranks grouped by expected df: `common` spans many 128-posting
    blocks (but stays under the 95%-DF pruning cut); `rare` fills a
    result page on a single shard (so the θ-seed is live) while staying
    far sparser than the common list's blocks."""
    edf = zipf_expected_df(n_docs)
    bands = {
        "common": (0.6 * n_docs, 0.9 * n_docs),
        "mid": (0.05 * n_docs, 0.15 * n_docs),
        "rare": (1.25 * LIMIT, 2.5 * LIMIT),
    }
    return {
        name: [f"w{r:05d}" for r in np.flatnonzero((edf >= lo) & (edf <= hi))]
        for name, (lo, hi) in bands.items()
    }


ZIPF_SHAPES = ("common", "rare_and_common", "rare_or_common",
               "mid_or_common", "or3")
ZIPF_BLOCK = len(ZIPF_SHAPES)


def zipf_requests(seed: int, n_docs: int, n: int) -> list[dict]:
    """Single-client df-band traffic in shuffled blocks of five, one
    of each shape: common-only top-k, rare AND common, rare OR common,
    mid OR common and a 3-term OR."""
    rng = _rng(seed, 3)
    bands = zipf_bands(n_docs)

    def pick(band: str) -> str:
        return str(rng.choice(bands[band]))

    out = []
    shapes: list[str] = []
    for i in range(n):
        if not shapes:
            shapes = list(ZIPF_SHAPES)
            rng.shuffle(shapes)
        shape = shapes.pop()
        c = pick("common")
        q, conj = {
            "common": (c, False),
            "rare_and_common": (f"{pick('rare')} {c}", True),
            "rare_or_common": (f"{pick('rare')} {c}", False),
            "mid_or_common": (f"{pick('mid')} {c}", False),
            "or3": (f"{pick('rare')} {pick('mid')} {c}", False),
        }[shape]
        out.append({"kind": "search", "shape": shape, "query": q,
                    "conjunctive": conj, "site": None, "offset": 0,
                    "mode": "bm25", "limit": LIMIT})
    return out


def pruning_probes(corpus_name: str, docs: pd.DataFrame) -> dict[str, str]:
    """One single-term query on the commonest term and one disjunction
    of a rare and that common term, from the generator's vocabulary:
    the two shapes whose decoded-block share brackets what block-max
    pruning can skip."""
    if corpus_name == "zipf":
        bands = zipf_bands(len(docs))
        df = Counter(w for t in docs["text"] for w in set(t.split()))
        # the rarest rare rank of this seed's docs that still fills more
        # than a page: the WAND threshold is seeded from the shorter
        # list only when it holds more than k postings, and the fewer
        # docs it holds, the fewer blocks of the common list hold one
        rare = min((r for r in bands["rare"] if df[r] >= 1.25 * LIMIT),
                   key=lambda r: (df[r], r))
        common = bands["common"][0]
    else:
        stop_set = set(corpus.STOP_SURFACES)
        pool = [w for w in _webtext_pools()["ru"][0] if w not in stop_set]
        common, rare = pool[0], pool[-1]
    return {"common": common, "rare_or_common": f"{rare} {common}"}
