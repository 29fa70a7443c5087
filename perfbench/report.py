"""Turns a finished run into the result line and the per-layer metrics."""

from __future__ import annotations

import json
import os
import platform

from spans import COUNT_SPAN, COUNTERS, self_times
from stats import median, tail

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}

# per-layer time metrics: metric name -> span name (self time per operation)
LAYER_TIMES = {
    "session.read_table_s": "session.read_table",
    "queries.build_s": "queries.build",
    "queries.plan_s": "queries.plan",
    "queries.exec_s": "queries.exec",
    "cutpoint.lineage_cut_s": "cutpoint.lineage_cut",
    "operators.cityassign.assign_city_s": "operators.cityassign.assign_city",
    "operators.er.candidate_links_s": "operators.er.candidate_links",
    "operators.er.resolve_entities_s": "operators.er.resolve_entities",
    "operators.components.connected_components_s": "operators.components.connected_components",
    "operators.nearest.nearest_within_s": "operators.nearest.nearest_within",
    "operators.graph.lift_reviews_s": "operators.graph.lift_reviews",
    "operators.graph.priority_coalesced_coords_s": "operators.graph.priority_coalesced_coords",
    "operators.graph.popularity_scores_s": "operators.graph.popularity_scores",
    "operators.graph.poi_cards_s": "operators.graph.poi_cards",
    "sinks.write_s": "sinks.write",
    "trace.count_s": COUNT_SPAN,
}
QUERY_SPANS = ("queries.build", "queries.plan", "queries.exec")
LAYER_UNITS = {
    "session.read_table_calls": "count", "queries.eager_jobs": "count", "queries.jobs": "count",
    "cutpoint.lineage_cuts": "count", "operators.cityassign.assigned_ratio": "ratio",
    "operators.er.candidate_pairs": "count", "operators.er.accept_ratio": "ratio",
    "operators.nearest.matched_ratio": "ratio", "sinks.bytes_written": "bytes",
    "sinks.files_written": "count", "spark.jobs": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.sched_delay_s": "s", "trace.overhead_ratio": "ratio",
    **{k: "s" for k in LAYER_TIMES},
}


def session_facts(spark) -> dict:
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)), "ram_gb": round(ram_gb, 1),
        "python": platform.python_version(), "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "master": conf.get("spark.master"), "driver_memory": conf.get("spark.driver.memory"),
    }


def window(r, kind: str) -> dict:
    return next(w for w in r.windows if w["kind"] == kind)


def summarize(r) -> dict:
    """End-to-end metrics from the timed (untraced) window, plus a
    readable report for standard error. Every operation of the run and
    every failed output check counts in ``attempted`` and ``failed``."""
    win = window(r, "timed")
    lat = win["lat"]
    p90 = tail(lat, 90.0)
    attempted = sum(w["attempted"] for w in r.windows) + len(r.check_errors)
    failed = sum(w["failed"] for w in r.windows) + len(r.check_errors)
    values = {
        "setup_s": r.setup_s,
        "op_p50_s": median(lat) if lat else 0.0,
        # closed loop, clients always busy: throughput = clients / mean
        # latency (Little's law), which the idle tail of the window,
        # when the last pass drains, does not distort
        "ops_per_s": win["clients"] * len(lat) / sum(lat) if lat else 0.0,
        "peak_rss_mb": r.rss_mb,
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()},
        "report": {
            "workload": r.args.workload, "seed": r.args.seed, "samples": len(lat),
            **{k: round(v, 4) for k, v in values.items()},
            "window_s": round(win["wall_s"], 3),
            "op_p90_s": p90 if p90 is not None else "withheld: fewer than 10 samples beyond it",
            "error_rate": failed / max(1, attempted),
            "errors": (r.check_errors + [e for w in r.windows for e in w["errors"]])[:5],
            "host": r.facts,
        },
    }


def layer_metrics(r) -> dict:
    """Per-layer metrics from the traced window, each per operation
    (ratios are ratios). Layers the workload does not reach read 0."""
    untraced, traced = window(r, "timed"), window(r, "traced")
    ops = set(traced["ops"])
    n = max(1, len(ops))
    spans = [s for s in r.tracer.rec.spans if s.request in ops]
    self_s = self_times(spans)
    by_id = {s.id: s for s in spans}

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name, key):
        return sum(s.counts.get(key, 0) for s in named(name))

    def ratio(a, b):
        return a / b if b else 0.0

    def under(s, name):
        while s is not None:
            if s.name == name:
                return True
            s = by_id.get(s.parent)
        return False

    out = {m: sum(self_s[s.id] for s in named(sp)) / n for m, sp in LAYER_TIMES.items()}
    cand = total("operators.er.candidate_links", "rows")
    out.update({
        "session.read_table_calls": len(named("session.read_table")) / n,
        "queries.eager_jobs": sum(s.counts.get("jobs", 0) for s in spans
                                  if under(s, "queries.build")) / n,
        "queries.jobs": sum(s.counts.get("jobs", 0) for s in spans
                            if any(under(s, q) for q in QUERY_SPANS)) / n,
        "cutpoint.lineage_cuts": len(named("cutpoint.lineage_cut")) / n,
        "operators.cityassign.assigned_ratio": ratio(
            total("operators.cityassign.assign_city", "assigned"),
            total("operators.cityassign.assign_city", "rows")),
        "operators.er.candidate_pairs": cand / n,
        "operators.er.accept_ratio": ratio(total("operators.er.resolve_entities", "rows"), cand),
        "operators.nearest.matched_ratio": ratio(
            total("operators.nearest.nearest_within", "rows"),
            total("operators.nearest.nearest_within", "left_rows")),
        "sinks.bytes_written": total("sinks.write", "bytes") / n,
        "sinks.files_written": total("sinks.write", "files") / n,
        "trace.overhead_ratio": ratio(median(traced["lat"]) if traced["lat"] else 0.0,
                                      median(untraced["lat"]) if untraced["lat"] else 0.0),
    })
    for c in COUNTERS:
        out[f"spark.{c}"] = sum(s.counts.get(c, 0) for s in spans) / n
    return {k: {"value": out[k], "unit": LAYER_UNITS[k]} for k in sorted(LAYER_UNITS)}


def write_spans(spans, path: str) -> None:
    """One JSON line per span, with its self time."""
    self_s = self_times(spans)
    with open(path, "w") as f:
        for s in sorted(spans, key=lambda s: s.start):
            f.write(json.dumps({"name": s.name, "id": s.id, "parent": s.parent,
                                "request": s.request, "start": s.start, "end": s.end,
                                "self_s": self_s[s.id], **s.counts}) + "\n")
