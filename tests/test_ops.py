"""Ops surface (I2/I3): cancellable build + manifest-backed status,
and a real mid-flight cancel → resume round trip."""

import threading
import time

import pytest

from searchengine_spark.index.manifest import build_packed_resumable, completed_groups
from searchengine_spark.operators.ops import (
    build_status,
    cancel_build,
    run_cancellable,
)
from searchengine_spark.operators.postings import build_index
from searchengine_spark.operators.search import corpus_constants
from searchengine_spark.sources.corpus import corpus_df


def test_cancel_then_resume(spark, tmp_path):
    idx = build_index(corpus_df(spark, 300), use_html=True)
    for t in (idx.postings, idx.term_stats, idx.doc_stats):
        t.cache().count()
    n, avgdl = corpus_constants(idx.doc_stats)
    base = str(tmp_path / "b")

    def build():
        build_packed_resumable(spark, idx, base, n, avgdl,
                               n_shards=8, n_groups=8)

    # fire cancels repeatedly until the build dies — a single cancel
    # can land in the gap between two group jobs (cancelJobGroup only
    # kills ACTIVE jobs) and be a no-op
    stop = threading.Event()

    def keep_cancelling():
        time.sleep(2.0)
        while not stop.is_set():
            cancel_build(spark)
            time.sleep(0.5)

    canceller = threading.Thread(target=keep_cancelling, daemon=True)
    canceller.start()
    try:
        with pytest.raises(Exception):
            run_cancellable(spark, build)
    finally:
        stop.set()
        canceller.join(timeout=5)

    done_after_cancel = completed_groups(spark, base, "pack_segments")
    assert len(done_after_cancel) < 8  # genuinely interrupted mid-way

    # resume to completion (no job group, nothing cancels it). The
    # cancel storm can leave a killed-mid-handshake Python worker in
    # local-mode's reuse pool; the next job to draw it dies with
    # ClosedSelectorException/EOFException, and local[*] fails fast at
    # spark.task.maxFailures=1 (a cluster retries the task, default 4).
    # Resuming after a transient failure IS the operator's contract,
    # so retry exactly like a production driver would.
    segs = None
    for attempt in range(3):
        try:
            segs = build_packed_resumable(spark, idx, base, n, avgdl,
                                          n_shards=8, n_groups=8)
            break
        except Exception as e:  # noqa: BLE001 — filtered below
            msg = str(e)
            if ("ClosedSelectorException" not in msg
                    and "EOFException" not in msg):
                raise
    assert segs is not None, "resume kept hitting poisoned workers"
    assert completed_groups(spark, base, "pack_segments") == set(range(8))
    assert segs.rows.count() > 0

    # status rollup
    rows = build_status(spark, base)
    st = {r["stage"]: r for r in rows}
    assert st["pack_segments"]["n_done"] == 8
    assert st["pack_segments"]["n_postings"] == idx.postings.count()
    assert st["pack_segments"]["bytes_written"] > 0
