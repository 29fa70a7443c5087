"""Span recorder, self-time arithmetic and Spark status-store counters.

Spans are recorded from outside the program: :class:`Tracer` wraps
public functions of ``kg_etl_spark`` (in every module that imported
them by name) so each call opens a span. A wrapped call that returns
DataFrames forces them (persist + count) before its span closes, so the
span holds its own layer's work rather than leaving it to whichever
action runs next.

Each span carries a Spark job group equal to its id, so the jobs it ran
can be read back from Spark's status store and attributed to it.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    id: int = 0
    parent: int | None = None
    request: int | None = None
    counts: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Recorder:
    """Thread-safe in-memory span store with a per-thread span stack.
    Each open span is the Spark job group of its thread."""

    def __init__(self, sc):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sc = sc

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, request: int | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(name, time.perf_counter(), id=next(self._ids),
                 parent=parent.id if parent else None,
                 request=request if parent is None else parent.request)
        stack.append(s)
        self._sc.setJobGroup(f"span-{s.id}", name)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            self._sc.setJobGroup(f"span-{stack[-1].id}", stack[-1].name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        with self._lock:
            self.spans.append(s)

    def span(self, name: str, request: int | None = None):
        rec = self

        class _Ctx:
            def __enter__(self):
                self.s = rec.open(name, request)
                return self.s

            def __exit__(self, *exc):
                rec.close(self.s)
                return False

        return _Ctx()


# --- Spark status store -------------------------------------------------

COUNTERS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
            "sched_delay_s")


class StatusCounters:
    """Reads per-job-group stage totals from ``sc.statusStore()`` (works
    with ``spark.ui.enabled=false``) after draining the listener bus."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._seen_stages: set = set()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def for_group(self, group: str) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        store = self._jsc.statusStore()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(jid)
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted or never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
                if sub.isDefined() and first.isDefined():
                    out["sched_delay_s"] += max(
                        0, first.get().getTime() - sub.get().getTime()) / 1000.0
        return out


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path`` (a file or a directory)."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles


# --- instrumentation ----------------------------------------------------

# (module, function) -> span name. Functions returning DataFrames are
# forced at the boundary; read_table (a lazy, memoized scan) and
# lineage_cut (already eager) are timed as they are.
WRAPPED = {
    ("kg_etl_spark.session", "read_table"): "session.read_table",
    ("kg_etl_spark.cutpoint", "lineage_cut"): "cutpoint.lineage_cut",
    ("kg_etl_spark.operators.cityassign", "assign_city"): "operators.cityassign.assign_city",
    ("kg_etl_spark.operators.er", "candidate_links"): "operators.er.candidate_links",
    ("kg_etl_spark.operators.er", "resolve_entities"): "operators.er.resolve_entities",
    ("kg_etl_spark.operators.components", "connected_components"):
        "operators.components.connected_components",
    ("kg_etl_spark.operators.nearest", "nearest_within"): "operators.nearest.nearest_within",
    ("kg_etl_spark.operators.graph", "lift_reviews"): "operators.graph.lift_reviews",
    ("kg_etl_spark.operators.graph", "priority_coalesced_coords"):
        "operators.graph.priority_coalesced_coords",
    ("kg_etl_spark.operators.graph", "popularity_scores"): "operators.graph.popularity_scores",
    ("kg_etl_spark.operators.graph", "poi_cards"): "operators.graph.poi_cards",
    ("kg_etl_spark.sinks", "write_contract_csv"): "sinks.write",
    ("kg_etl_spark.sinks", "write_nested_json"): "sinks.write",
    ("kg_etl_spark.sources.jsonl", "write_jsonl"): "sinks.write",
}
UNFORCED = {"session.read_table", "cutpoint.lineage_cut", "sinks.write"}
COUNT_SPAN = "trace.count"


class Tracer:
    """Wraps the functions in :data:`WRAPPED` so every call records a
    span (for the rest of the process)."""

    def __init__(self, spark):
        self.rec = Recorder(spark.sparkContext)
        self.status = StatusCounters(spark.sparkContext)
        self._local = threading.local()

    # -- request scope -------------------------------------------------
    def request(self, name: str, rid: int):
        """Root span of one operation; unpersists what it forced."""
        tracer = self

        class _Req:
            def __enter__(self):
                tracer._local.forced = []
                self.ctx = tracer.rec.span(name, rid)
                return self.ctx.__enter__()

            def __exit__(self, *exc):
                self.ctx.__exit__(*exc)
                for df in tracer._local.forced:
                    df.unpersist()
                tracer._local.forced = []
                return False

        return _Req()

    def collect_counters(self, rid: int) -> None:
        """Attach Spark status-store counters to every span of a finished
        request."""
        self.status.drain()
        for s in [s for s in self.rec.spans if s.request == rid]:
            s.counts.update(self.status.for_group(f"span-{s.id}"))

    # -- wrapping ------------------------------------------------------
    def _force(self, df) -> int:
        df.persist()
        getattr(self._local, "forced", []).append(df)
        return df.count()

    def _after(self, span_name: str, s: Span, args, kwargs, result) -> None:
        """Force the result and record the layer's counts."""
        if span_name in UNFORCED:
            if span_name == "sinks.write":
                path = args[1] if len(args) > 1 else kwargs["path"]
                with self.rec.span(COUNT_SPAN):
                    s.counts["bytes"], s.counts["files"] = dir_size(path)
            return
        frames = result if isinstance(result, tuple) else (result,)
        rows = [self._force(df) for df in frames]
        s.counts["rows"] = rows[0]
        with self.rec.span(COUNT_SPAN):
            from pyspark.sql import functions as F

            if span_name == "operators.cityassign.assign_city":
                s.counts["assigned"] = result.filter(F.col("city_slug").isNotNull()).count()
            elif span_name == "operators.nearest.nearest_within":
                s.counts["left_rows"] = args[0].count()

    def _wrap(self, fn, span_name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.rec.span(span_name) as s:
                result = fn(*args, **kwargs)
                tracer._after(span_name, s, args, kwargs, result)
            return result

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        import importlib
        import sys

        from pyspark.sql import DataFrame

        originals = {}
        for (mod, attr), span_name in WRAPPED.items():
            fn = getattr(importlib.import_module(mod), attr)
            originals[id(fn)] = (fn, self._wrap(fn, span_name))
        # replace every module-level reference (callers import by name)
        for mname, m in list(sys.modules.items()):
            if not mname.startswith("kg_etl_spark") or m is None:
                continue
            for attr, val in list(vars(m).items()):
                if id(val) in originals and originals[id(val)][0] is val:
                    setattr(m, attr, originals[id(val)][1])
        DataFrame.lineage_cut = originals[id(DataFrame.lineage_cut)][1]
