"""Traced-run support: spans with Spark job groups, and the event-log fold.

A span is recorded around each call the benchmark makes into a layer of
the package (or, for the serving path, around the package functions the
request handler calls, by wrapping their module attributes). Each span
runs under its own Spark job group ``<layer>#<n>``; the Spark event log
then attributes every job, stage and task to the span that caused it.
Nothing inside the package changes.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "session",
    "text.tokenizer",
    "index.builder",
    "index.bm25",
    "index.phrase",
    "serve",
    "pipeline",
    "operators.dedup",
    "index.incremental",
)

# Spark counters folded per layer from the event log (the ``spark``
# layer, counted per job group).
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_only_ms",
)

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Records spans; with ``enabled=False`` every span is a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = None
        # The frames the last request built, by name ("search", "full"),
        # for re-collecting outside the request.
        self.kept: dict = {}
        self._seq = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def request(self):
        return getattr(self._local, "req", None)

    @request.setter
    def request(self, value):
        self._local.req = value

    def record(self, layer: str, op: str, start_s: float, dur_s: float) -> None:
        """A span timed by the caller, for work that runs before Spark does."""
        if self.enabled:
            self.spans.append(
                {"gid": f"{layer}#{next(self._seq)}", "layer": layer, "op": op,
                 "parent": None, "start_ms": start_s * 1000.0, "dur_ms": dur_s * 1000.0,
                 "phase": self.phase, "req": None}
            )

    @contextmanager
    def span(self, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        gid = f"{layer}#{next(self._seq)}"
        parent = getattr(self._local, "gid", None)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, gid)
        self._local.gid = gid
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield gid
        finally:
            dur = time.perf_counter() - t0
            self.sc.setLocalProperty(GROUP_KEY, prev)
            self._local.gid = parent
            rec = {
                "gid": gid,
                "layer": layer,
                "op": op,
                "parent": parent,
                "start_ms": start * 1000.0,
                "dur_ms": dur * 1000.0,
                "phase": self.phase,
                "req": self.request,
            }
            with self._lock:
                self.spans.append(rec)


def install_serving_wrappers(tracer: Tracer, service) -> None:
    """Span the package functions a ``SearchService.query`` call reaches.

    ``query`` imports ``search``/``snippets``/``highlight`` and the
    correction path from their modules at call time, so replacing the
    module attributes puts a span around each call on the real request
    path. The service's own ``query`` is wrapped on the instance, which
    is what the HTTP handler calls."""
    import searchengine_spark.index.bm25 as bm25
    import searchengine_spark.index.phrase as phrase
    import searchengine_spark.text.tokenizer as tokenizer

    def wrap(fn, layer, op, keep=None):
        def traced(*args, **kwargs):
            with tracer.span(layer, op):
                out = fn(*args, **kwargs)
            if keep:
                tracer.kept[keep] = out
            return out

        return traced

    tokenizer.tokenize_query = wrap(tokenizer.tokenize_query, "text.tokenizer", "query")
    bm25.tokenize_query = tokenizer.tokenize_query
    bm25.search = wrap(bm25.search, "index.bm25", "plan", keep="search")
    bm25.snippets = wrap(bm25.snippets, "serve", "snippet_plan")
    bm25.highlight = wrap(bm25.highlight, "serve", "snippet_plan", keep="full")
    phrase.search_with_correction = wrap(
        phrase.search_with_correction, "index.phrase", "correction"
    )
    query = service.query
    seq = itertools.count()

    def traced_query(*args, **kwargs):
        tracer.request = next(seq)
        try:
            with tracer.span("serve", "query"):
                return query(*args, **kwargs)
        finally:
            tracer.request = None

    service.query = traced_query


# ------------------------------------------------------------ spans


def self_times(spans: list[dict]) -> dict[str, float]:
    """gid -> span duration minus the durations of its child spans."""
    own = {s["gid"]: s["dur_ms"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["dur_ms"]
    return own


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ----------------------------------------------------- event log fold


def fold_event_log(lines, spans: list[dict] | None = None) -> dict:
    """Fold Spark event-log JSON lines into per-job-group counters.

    Returns ``{"groups": {gid: counters}, "layers": {layer: counters}}``.
    A stage counts once per attempt that ran (a stage reused from an
    earlier job is skipped by Spark and not counted); tasks, executor
    time, GC, shuffle-write and spill bytes are summed from TaskEnd
    events; ``driver_only_ms`` is a span's self time minus the union of
    its own jobs' wall spans."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    intervals: dict = defaultdict(list)
    stage_group: dict[tuple[int, int], str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get(GROUP_KEY)
            job_group[ev["Job ID"]] = gid
            job_start[ev["Job ID"]] = ev["Submission Time"]
            groups[gid]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            intervals[job_group.get(jid)].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            gid = (ev.get("Properties") or {}).get(GROUP_KEY)
            stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = gid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            groups[stage_group.get(key)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            g = groups[stage_group.get(key)]
            g["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["executor_run_ms"] += m.get("Executor Run Time", 0)
            g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    if spans:
        own = self_times(spans)
        for s in spans:
            busy = _union_ms(intervals.get(s["gid"], []))
            groups[s["gid"]]["driver_only_ms"] = max(0.0, own[s["gid"]] - busy)
    layers = {layer: {c: 0.0 for c in SPARK_COUNTERS} for layer in LAYERS}
    for gid, counters in groups.items():
        layer = gid.split("#")[0] if gid else None
        if layer in layers:
            for c, v in counters.items():
                layers[layer][c] += v
    return {"groups": {g: dict(c) for g, c in groups.items()}, "layers": layers}
