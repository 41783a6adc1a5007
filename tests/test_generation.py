"""One immutable serving generation (service.Generation): reads that race
writes see exactly one published index state, a delete followed by a
re-index of the same url serves the new page, and a retired
generation's cached frames are released."""

from __future__ import annotations

import sys
import threading
import time

import pytest

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
from searchengine_spark.service import SearchService
from searchengine_spark.sources.corpus import corpus_df

# the fixed read list every reader thread cycles through
READS = (
    ("search", lambda s: s.search("быстрый поиск", limit=5,
                                  conjunctive=False)),
    ("site", lambda s: s.search("запрос страница", site="site3.example")),
    ("snippets", lambda s: s.search("быстрый поиск", limit=3,
                                    snippets=True, conjunctive=False)),
    ("boolean", lambda s: s.boolean("быстрый AND NOT индекс", limit=5)),
    ("phrase", lambda s: s.phrase("быстрый поиск", limit=5)),
    ("complete", lambda s: s.complete("по", topn=5)),
    ("suggest", lambda s: s.suggest("поис", topn=3)),
)


def _build(spark, base: str, n: int) -> None:
    """A production-layout index: materialize_index + build_segments,
    positional runs and a materialized docs_text."""
    docs = corpus_df(spark, n)
    idx = materialize_index(spark, docs, f"{base}/idx", use_html=True)
    n_docs, avgdl = corpus_constants(idx.doc_stats)
    write_segments(build_segments(idx, n_docs, avgdl, n_shards=2),
                   f"{base}/segments")
    prepared = prepare_docs(docs, use_html=True)
    write_positional_segments(
        build_positional_segments(prepared.select("doc_id", "lemmas"), 2),
        f"{base}/possegs",
    )
    prepared.select("doc_id", "text").write.parquet(f"{base}/docs_text")


def _open(spark, base: str) -> SearchService:
    return SearchService(spark, base,
                         docs_text=spark.read.parquet(f"{base}/docs_text"))


def _urls(resp: dict) -> list[str]:
    return [d["url"] for d in resp["data"]]


def test_reads_racing_writes_see_one_generation(spark, tmp_path):
    """4 reader threads cycle through READS while the main thread runs 3
    index_page + delete_page cycles (the last one deletes and then
    re-indexes the same url). No read raises, and every response equals
    the serial response of a generation published while it ran."""
    base = str(tmp_path / "index")
    _build(spark, base, 80)
    svc = _open(spark, base)
    try:
        gens = [svc._gen]
        expected = [[read(svc) for _, read in READS]]
        stop = threading.Event()
        seen, errors = [], []

        def reader(t: int) -> None:
            i = t
            while not stop.is_set():
                name, read = READS[i % len(READS)]
                i += 1
                g0 = svc._gen
                try:
                    resp = read(svc)
                except Exception as e:  # noqa: BLE001 - counted below
                    errors.append(f"{name}: {type(e).__name__}: {e}")
                    continue
                seen.append((name, g0, svc._gen, resp))
                time.sleep(0.01)  # cache hits would otherwise spin

        threads = [threading.Thread(target=reader, args=(t,))
                   for t in range(4)]
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-4)  # interleave the threads finely
        for th in threads:
            th.start()
        try:
            victims = _urls(svc.search("быстрый поиск", limit=3,
                                       conjunctive=False))
            writes = []
            for c in range(2):
                writes.append(lambda c=c: svc.index_page(
                    f"https://site{c}.example/racing-{c}",
                    text="быстрый поиск по новой странице"))
                writes.append(lambda c=c: svc.delete_page(victims[c]))
            writes.append(lambda: svc.delete_page(
                "https://site0.example/racing-0"))
            writes.append(lambda: svc.index_page(
                "https://site0.example/racing-0",
                text="быстрый поиск снова на странице"))
            for write in writes:
                assert write()["result"] is True
                gens.append(svc._gen)
                expected.append([read(svc) for _, read in READS])
        finally:
            stop.set()
            for th in threads:
                th.join(timeout=300)
            sys.setswitchinterval(switch)
        assert not any(th.is_alive() for th in threads)
        assert not errors, f"{len(errors)} reads raised, first: {errors[0]}"
        assert len(seen) > len(READS)
        index = {id(g): k for k, g in enumerate(gens)}
        names = [name for name, _ in READS]
        for name, g0, g1, resp in seen:
            window = range(index[id(g0)], index[id(g1)] + 1)
            assert any(
                expected[k][names.index(name)] == resp for k in window
            ), (name, list(window))
        # the re-indexed page is served by the last generation
        assert "https://site0.example/racing-0" in _urls(
            svc.search("быстрый поиск", limit=500, conjunctive=False))
    finally:
        svc.close()


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("generation") / "index")
    _build(spark, base, 40)
    return base


def test_delete_then_reindex_serves_new_page(spark, small):
    """A page deleted and then re-indexed before compaction is served
    again — by this service and after a reopen. Each write lands under
    a run id of its own, so the re-index never ties with the delete
    (a tie resolves deleted-wins)."""
    url = "https://site1.example/reindexed"
    q = "быстрый поиск"
    svc = _open(spark, small)
    try:
        first = svc.index_page(url, text="быстрый поиск первая версия")
        gone = svc.delete_page(url)
        again = svc.index_page(url, text="быстрый поиск вторая версия")
        assert first["run_id"] < gone["run_id"] < again["run_id"]
        assert url in _urls(svc.search(q, limit=500, conjunctive=False))
    finally:
        svc.close()
    svc = _open(spark, small)
    try:
        assert url in _urls(svc.search(q, limit=500, conjunctive=False))
        # the reopened service continues past every run on disk
        assert svc._gen.next_run_id == again["run_id"] + 1
    finally:
        svc.close()


def test_writes_release_retired_generations(spark, small):
    """With no read in flight, each write leaves exactly the frames of
    the current generation cached: the persistent-RDD count after
    writes equals the post-open count plus the lazy frames rebuilt."""
    jsc = spark.sparkContext._jsc

    def warm(svc) -> int:
        # builds the positional frame, site map, site dim and fuzzy keys,
        # and the facets' Spark plan persists the TF doc-table side
        svc.phrase("быстрый поиск")
        svc.facets("быстрый поиск")
        svc.suggest("поис")
        return jsc.getPersistentRDDs().size()

    svc = _open(spark, small)
    try:
        opened = jsc.getPersistentRDDs().size()
        warmed = warm(svc)
        assert warmed == opened + 5
        url = "https://site2.example/leakcheck"
        svc.index_page(url, text="быстрый поиск утечкапроверка")
        assert jsc.getPersistentRDDs().size() == opened
        svc.delete_page(url)
        svc.refresh_positional()
        assert jsc.getPersistentRDDs().size() == opened + 1  # positional
        assert warm(svc) == warmed
    finally:
        svc.close()
