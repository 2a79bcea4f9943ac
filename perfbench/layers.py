"""Per-layer metrics of a traced run, measured from outside: the spans the
benchmark recorded around its calls into each layer, the streaming progress
the recorder collected, and Spark's event log.

Every per-layer metric is reported on every workload; a layer the workload
does not touch reads 0. The run also writes its trace rows, one per registry
query or per micro-batch, to ``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

from . import common
from .trace import jobs_in, read_event_logs

# name -> unit, in BENCHMARK.json order.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "inventory.fixture_s": "s",
    "engine.start_s": "s",
    "engine.first_version_s": "s",
    "inventory.build_s": "s",
    "inventory.build_jobs": "count",
    "inventory.execute_s": "s",
    "inventory.execute_jobs": "count",
    "inventory.release_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.busy_share": "ratio",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.triggerExecution_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.getBatch_ms": "ms",
    "streaming.idle_gap_ms": "ms",
    "streaming.phase_coverage": "ratio",
    "streaming.triggerExecution_ms.low": "ms",
    "streaming.addBatch_ms.low": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "sinks.versions": "count",
    "sinks.commit_interval_s": "s",
    "apps.build_s": "s",
    "sources.backlog_files": "count",
    "sources.lag_s": "s",
    "generator.late_max_s": "s",
    "sustained_lines_per_s": "1/s",
    "local1.drain_lines_per_s": "1/s",
    "local1.latency_p50_s.low": "s",
}

PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _span_sum(spans, name, within=None) -> float:
    rows = [r for r in spans.find(name)
            if within is None or any(a <= r["start"] <= b for a, b in within)]
    return sum(r["end"] - r["start"] for r in rows)


def _first_span(spans, name, trace) -> float:
    rows = [r for r in spans.find(name) if r["trace"] == trace]
    return rows[0]["end"] - rows[0]["start"] if rows else 0.0


def _batches(recorder, windows, query=None) -> list[dict]:
    """Progress rows of batches that read input, started within a window."""
    out = []
    for p in recorder.progress:
        if not p.get("timestamp") or not p["num_input_rows"]:
            continue
        if query is not None and p["query"] != query:
            continue
        t = _epoch(p["timestamp"])
        if any(a <= t <= b for a, b in windows):
            out.append({**p, "start": t})
    return out


def _batch_metrics(batches: list[dict]) -> dict:
    d = [b["duration_ms"] for b in batches]
    m = {"streaming.batches": len(batches)}
    for ph in ("triggerExecution",) + PHASES:
        m[f"streaming.{ph}_ms"] = _median(x.get(ph, 0) for x in d)
    trig = sum(x.get("triggerExecution", 0) for x in d)
    named = sum(x.get(ph, 0) for x in d for ph in PHASES)
    m["streaming.phase_coverage"] = named / trig if trig else 0.0
    gaps = []
    by_query: dict = {}
    for b in batches:
        by_query.setdefault(b["query"], []).append(b)
    for rows in by_query.values():
        rows.sort(key=lambda b: b["start"])
        for a, b in zip(rows, rows[1:]):
            gaps.append(max(0.0, (b["start"] - a["start"]) * 1000 - a["duration_ms"].get("triggerExecution", 0)))
    m["streaming.idle_gap_ms"] = _median(gaps)
    state = [s for b in batches for s in b["state"]]
    m["streaming.state_rows"] = max((s["rows_total"] for s in state), default=0)
    m["streaming.state_bytes"] = max((s["memory_bytes"] for s in state), default=0)
    return m


def _spark_metrics(jobs, windows, wall: float) -> dict:
    tot = {k: 0 for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                          "shuffle_read", "shuffle_write", "spill")}
    for a, b in windows:
        for k, v in jobs_in(jobs, a, b).items():
            tot[k] += v
    return {
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
        "spark.busy_share": tot["run_ms"] / 1000.0 / (wall * common.CORES) if wall else 0.0,
        "spark.executor_run_ms": tot["run_ms"], "spark.executor_cpu_ms": tot["cpu_ms"],
        "spark.gc_ms": tot["gc_ms"], "spark.shuffle_read_bytes": tot["shuffle_read"],
        "spark.shuffle_write_bytes": tot["shuffle_write"], "spark.spill_bytes": tot["spill"],
    }


def _registry(bench, out, jobs) -> tuple[dict, list[dict]]:
    spans, rec = bench.spans, bench.recorder
    queries = [r for r in spans.find("query")]
    windows = [(r["start"], r["end"]) for r in queries]
    m = {
        "inventory.build_s": _span_sum(spans, "inventory.build"),
        "inventory.execute_s": _span_sum(spans, "inventory.execute"),
        "inventory.release_s": _span_sum(spans, "inventory.release"),
        "inventory.build_jobs": sum(jobs_in(jobs, r["start"], r["end"])["jobs"]
                                    for r in spans.find("inventory.build")),
        "inventory.execute_jobs": sum(jobs_in(jobs, r["start"], r["end"])["jobs"]
                                      for r in spans.find("inventory.execute")),
    }
    m.update(_spark_metrics(jobs, windows, sum(b - a for a, b in windows)))
    batches = _batches(rec, windows)
    m.update(_batch_metrics(batches))
    rows = []
    for q in queries:
        name = q["trace"]
        phases = {r["name"].split(".")[1]: r for r in spans.rows
                  if r["trace"] == name and r["name"].startswith("inventory.")}
        row = {"query": name, **{f"{k}_s": v["end"] - v["start"] for k, v in phases.items()}}
        for k in ("build", "execute"):
            if k in phases:
                row[f"{k}_jobs"] = jobs_in(jobs, phases[k]["start"], phases[k]["end"])["jobs"]
        row.update(jobs_in(jobs, q["start"], q["end"]))
        row["group_jobs"] = sum(1 for j in jobs if j["group"] == name)
        runs = {r for r, t in rec.run_trace.items() if t == name}
        row["micro_batches"] = [
            {"batch_id": p["batch_id"], "duration_ms": p["duration_ms"]}
            for p in rec.progress if p.get("run_id") in runs
        ]
        rows.append(row)
    return m, rows


def _apps(bench, out, jobs) -> tuple[dict, list[dict]]:
    spans, rec = bench.spans, bench.recorder
    drains = [(d["start"], d["end"]) for d in out["drains"].values()]
    rate_span = [r for r in spans.find("rate") if r["trace"] == "rate"][0]
    rate = out["rate"]
    windows = drains + [(rate_span["start"], rate_span["end"])]
    m = {"apps.build_s": _span_sum(spans, "apps.build", within=drains)}
    m.update(_spark_metrics(jobs, windows, sum(b - a for a, b in windows)))

    # Rate-phase batches, split by phase on the due times of what they read.
    due_by_batch: dict[int, list[dict]] = {}
    for r in rate.records:
        b = rate.file_batch.get(r["path"])
        if b is not None:
            due_by_batch.setdefault(b, []).append(r)
    batches = _batches(rec, [(rate_span["start"], rate_span["end"])], query="crane_wordCount")
    high = [b for b in batches
            if any(r["phase"] == "high" for r in due_by_batch.get(b["batch_id"], []))]
    low = [b for b in batches
           if all(r["phase"] == "low" for r in due_by_batch.get(b["batch_id"], [{"phase": ""}]))]
    m.update(_batch_metrics(high))
    lowm = _batch_metrics(low)
    m["streaming.triggerExecution_ms.low"] = lowm["streaming.triggerExecution_ms"]
    m["streaming.addBatch_ms.low"] = lowm["streaming.addBatch_ms"]

    commits = sorted(rate.commit_times.values())
    m["sinks.versions"] = len(commits)
    m["sinks.commit_interval_s"] = _median(b - a for a, b in zip(commits, commits[1:]))

    backlog, lag = [], []
    landed = [(r["landed"], rate.file_batch.get(r["path"], 1 << 60)) for r in rate.records]
    for b in high:
        waiting = [t for t, fb in landed if t <= b["start"] and fb >= b["batch_id"]]
        backlog.append(len(waiting))
        lag.append(b["start"] - min(waiting) if waiting else 0.0)
    m["sources.backlog_files"] = _median(backlog)
    m["sources.lag_s"] = max(lag, default=0.0)
    m["generator.late_max_s"] = max(r["landed"] - r["due"] for r in rate.records)

    traced = out["traced"]
    m["sustained_lines_per_s"] = traced["ladder"]["sustained_lines_per_s"] or 0.0
    lps = [v for k, v in traced.items() if k.startswith("local1.drain_lines_per_s.")]
    m["local1.drain_lines_per_s"] = _median(lps)
    m["local1.latency_p50_s.low"] = traced["local1.latency_p50_s.low"]

    def phase(b):
        names = [r["phase"] for r in due_by_batch.get(b["batch_id"], [])]
        return max(set(names), key=names.count) if names else None

    rows = [{"batch_id": b["batch_id"], "start": b["start"], "phase": phase(b),
             "num_input_rows": b["num_input_rows"], "duration_ms": b["duration_ms"],
             "state": b["state"]} for b in batches]
    return m, rows


def overhead(bench, e2e: dict, per_query: dict | None) -> dict:
    """Traced minus untraced end-to-end figures, against the untraced runs
    of the same workload recorded in this checkout (same seed preferred)."""
    runs = common.untraced_results(bench.workload)
    same = [r for r in runs if r["seed"] == bench.seed]
    base = same or runs
    if not base:
        return {"tracing_overhead": "no untraced run of this workload recorded yet"}
    out = {"tracing_overhead_base": f"{len(base)} untraced run(s), seed match: {bool(same)}"}
    for k, v in e2e.items():
        ref = statistics.median(r["metrics"][k] for r in base)
        out[f"tracing_overhead.{k}"] = v - ref
    if per_query and same and same[-1].get("per_query"):
        ref = same[-1]["per_query"]
        ratios = [q["total"] / ref[n]["total"] for n, q in per_query.items() if n in ref]
        within = sum(abs(r - 1) <= 0.1 for r in ratios)
        out["queries_within_10pct_of_untraced"] = f"{within}/{len(ratios)}"
        out["query_traced_over_untraced_median"] = statistics.median(ratios)
    return out


def per_layer(bench, out) -> tuple[dict, dict]:
    spans = bench.spans
    jobs = read_event_logs(bench.event_dir)
    m = {k: 0 for k in PER_LAYER}
    m["session.get_spark_s"] = _first_span(spans, "session.get_spark", "setup")
    m["session.warmup_s"] = _first_span(spans, "session.warmup", "setup")
    m["inventory.fixture_s"] = out.get("fixture_s", 0.0)
    m["engine.start_s"] = _first_span(spans, "engine.start", "rate")
    m["engine.first_version_s"] = _first_span(spans, "engine.first_version", "rate")
    if bench.workload == "registry_mix":
        layer, rows = _registry(bench, out, jobs)
    else:
        layer, rows = _apps(bench, out, jobs)
    m.update(layer)
    path = os.path.join(common.WORK_ROOT, f"trace-{bench.workload}-{bench.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": spans.rows, "rows": rows, "jobs": len(jobs)}, f)
    report = {"trace_file": path, **overhead(bench, out["e2e"], out.get("per_query"))}
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}, report
