"""Tracing for the traced run: spans recorded by the benchmark around its
calls into each layer, and Spark's own event log folded onto those spans.

Spans (name, start, end, parent, trace id) are kept in memory and written
once when the run ends. Spark's event log is read after the session stops:
each job carries its job group (the registry query name, set by the
benchmark, or a stream's runId) and each task its executor run, CPU and GC
time, shuffle bytes and spill. The client is serial, so a job belongs to
the span open when it was submitted: a query's eager actions during build
count as build jobs, and the jobs of a stream a query starts count as that
query's. The job group cross-checks the attribution per query."""

from __future__ import annotations

import contextlib
import glob
import json
import time

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4 defaults to zstd-compressed, rolling event-log directories;
    # plain single files are what the reader below parses.
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Spans:
    """In-memory span store. ``span()`` is a context manager; spans nest
    through ``parent`` and share a ``trace`` id (query name or batch)."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: str):
        row = {
            "name": name,
            "trace": trace,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.rows.append(row)
        self._stack.append(len(self.rows) - 1)
        try:
            yield row
        finally:
            row["end"] = time.time()
            self._stack.pop()

    def find(self, name: str) -> list[dict]:
        return [r for r in self.rows if r["name"] == name]


def _empty_job(group, submit) -> dict:
    return {
        "group": group, "submit": submit, "end": None, "stages": 0,
        "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
    }


def read_event_logs(log_dir: str) -> list[dict]:
    """One record per Spark job across every application log in
    ``log_dir``: group, submit/end epoch seconds, stage and task counts and
    summed task metrics."""
    jobs: list[dict] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        if path.endswith(".inprogress"):
            continue
        by_id: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = _empty_job(
                        props.get("spark.jobGroup.id"), e["Submission Time"] / 1000.0
                    )
                    by_id[e["Job ID"]] = job
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in by_id:
                        by_id[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(e["Stage Info"]["Stage ID"])
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += m["Executor Run Time"]
                    job["cpu_ms"] += m["Executor CPU Time"] / 1e6
                    job["gc_ms"] += m["JVM GC Time"]
                    sr = m["Shuffle Read Metrics"]
                    job["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    job["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        jobs.extend(by_id.values())
    return jobs


JOB_SUMS = ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
            "shuffle_read", "shuffle_write", "spill")


def jobs_in(jobs: list[dict], start: float, end: float) -> dict:
    """Sum the jobs submitted within [start, end]."""
    out = {k: 0 for k in JOB_SUMS}
    out["jobs"] = 0
    for j in jobs:
        if not start <= j["submit"] <= end:
            continue
        out["jobs"] += 1
        for k in JOB_SUMS:
            out[k] += j[k]
    return out
