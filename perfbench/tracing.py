"""Tracing for the benchmark's traced run (`--trace 1`).

Spans come from the benchmark's own wrappers around the engine's public
calls; nothing inside the engine is instrumented. Each read or write
request runs in its own Spark job group (PySpark's pinned-thread mode
keeps a group per client thread), so `statusTracker` attributes jobs to
requests and to the spans inside them. Stage time, shuffle bytes, spill
and task wait come from the Spark event log, read after the session
stops. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled, every method is a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _jobs(self, group: str | None) -> int:
        if group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, group: str | None = None) -> dict | None:
        if not self.enabled:
            return None
        st = self._stack()
        if group is None and st:
            group = st[-1]["group"]
        span = {
            "id": next(self._ids), "name": name, "group": group,
            "parent": st[-1]["id"] if st else None,
            "t0": time.perf_counter(), "wall0": time.time(),
            "jobs0": self._jobs(group),
        }
        st.append(span)
        return span

    def close(self, span: dict | None, **attrs) -> None:
        if span is None:
            return
        span["t1"] = time.perf_counter()
        span["wall1"] = time.time()
        span["jobs"] = self._jobs(span["group"]) - span.pop("jobs0")
        span.update(attrs)
        st = self._stack()
        if span in st:
            st.remove(span)
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        s = self.open(name, group)
        try:
            yield s
        finally:
            self.close(s, **attrs)

    @contextmanager
    def request(self, kind: str, **attrs):
        """Endpoint span of one request, in a job group of its own."""
        if not self.enabled:
            yield None
            return
        group = f"bench-{kind}-{next(self._ids)}"
        self.sc.setJobGroup(group, kind)
        with self.span(f"endpoint.{kind}", group, kind=kind, **attrs) as s:
            yield s

    # -- queries over recorded spans ---------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the engine entry points the service calls, so each call
    records a span. Module attributes are replaced in this process only
    (Spark's Python workers never see the wrappers)."""
    import searchengine_spark.index.positional as positional
    import searchengine_spark.operators.boolquery as boolquery
    import searchengine_spark.operators.search as osearch
    import searchengine_spark.service as service

    def wrap(mod, attr: str, name: str) -> None:
        fn = getattr(mod, attr)

        @functools.wraps(fn)
        def traced(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        setattr(mod, attr, traced)

    wrap(service, "search_packed_fused", "wand.kernel")
    wrap(osearch, "lemmatize_query", "search.analyze")
    wrap(boolquery, "bool_search_packed_fused", "boolquery.kernel")
    wrap(service, "write_delta_run", "segments.delta_write")
    wrap(service, "write_tombstones", "segments.tombstone_write")

    # the phrase kernel returns a lazy DataFrame: its span stays open
    # until the service collects that frame
    phrase_fn = positional.phrase_search_packed_topk_count

    @functools.wraps(phrase_fn)
    def traced_phrase(*a, **k):
        s = tracer.open("positional.kernel")
        df = phrase_fn(*a, **k)
        collect = df.collect

        def collect_and_close():
            try:
                return collect()
            finally:
                tracer.close(s)

        df.collect = collect_and_close
        return df

    positional.phrase_search_packed_topk_count = traced_phrase


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PYTHON_OPS = ("EvalPython", "InPandas", "PythonUDF", "InArrow")


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-stage summary: submit/first-launch/complete times (ms since
    epoch), job group, executor run time, shuffle write, disk spill,
    and whether the stage runs a Python UDF operator."""
    stages: dict[int, dict] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in files:
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["submit"] = info.get("Submission Time")
                    st["group"] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    st["python"] = any(
                        op in json.dumps(info.get("RDD Info", []))
                        for op in _PYTHON_OPS
                    )
                elif kind == "SparkListenerTaskStart":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    launch = ev["Task Info"]["Launch Time"]
                    if st["launch"] is None or launch < st["launch"]:
                        st["launch"] = launch
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
                    st["shuffle_write"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["complete"] = info.get("Completion Time")
    return stages


def _new_stage() -> dict:
    return {"submit": None, "launch": None, "complete": None, "group": None,
            "python": False, "run_ms": 0, "spill": 0, "shuffle_write": 0}


def stages_between(stages: dict[int, dict], wall0: float,
                   wall1: float) -> list[dict]:
    """Stages submitted inside a wall-clock window (seconds since
    epoch) — how single-threaded build phases are attributed."""
    lo, hi = wall0 * 1000.0, wall1 * 1000.0
    return [s for s in stages.values()
            if s["submit"] is not None and lo <= s["submit"] <= hi]
