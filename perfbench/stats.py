"""The benchmark's own arithmetic, kept free of Spark so it can be tested
on synthetic inputs: percentiles and the rule for which tail percentile a
sample supports, the join of tick files to the micro-batch that read them
and to the sink version that batch committed, and backlog growth on the
rate ladder."""

from __future__ import annotations

import json
import math
import os
import statistics

# The tail percentile reported is the highest of these that still leaves at
# least TAIL_MIN samples beyond it.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN = 10
# Latency rising by more than 0.1 s per second of offered input counts as a
# growing backlog: the engine keeps up with less than ~90 % of the rate.
GROWTH_SLOPE = 0.1


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p % of the
    sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> float | None:
    """Highest percentile in PERCENTILES with at least TAIL_MIN of ``n``
    samples strictly beyond its rank, or None when even p50 has fewer."""
    best = None
    for p in PERCENTILES:
        if n - math.ceil(p / 100.0 * n) >= TAIL_MIN:
            best = p
    return best


def slowest_mean(values: list[float], k: int) -> float:
    """Mean of the ``k`` largest values (all of them when fewer)."""
    if not values:
        raise ValueError("mean of an empty sample")
    return statistics.fmean(sorted(values)[-k:])


def quartiles(values: list[float]) -> dict:
    """Median, quartiles and count, as the report gives every timing."""
    if len(values) == 1:
        v = values[0]
        return {"n": 1, "q1": v, "median": v, "q3": v}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "q1": q1, "median": med, "q3": q3}


# -- file-source log ------------------------------------------------------


def parse_source_log(entries: dict[str, str]) -> dict[str, int]:
    """Map each input file path to the micro-batch that read it.

    ``entries`` maps a log file name in ``<checkpoint>/sources/0/`` (``"7"``
    or, after compaction, ``"9.compact"``) to its text: a version line, then
    one JSON object per file with its ``path`` and ``batchId``. A compact
    file repeats every entry of the batches it folds in, so entries agree
    wherever both kinds name a file."""
    out: dict[str, int] = {}
    for name, text in entries.items():
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        lines = text.splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            e = json.loads(line)
            out[_local_path(e["path"])] = int(e["batchId"])
    return out


def read_source_log(checkpoint: str) -> dict[str, int]:
    d = os.path.join(checkpoint, "sources", "0")
    entries = {}
    for name in os.listdir(d) if os.path.isdir(d) else []:
        p = os.path.join(d, name)
        if not name.startswith(".") and os.path.isfile(p):
            with open(p) as f:
                entries[name] = f.read()
    return parse_source_log(entries)


def _local_path(uri: str) -> str:
    for prefix in ("file://", "file:"):
        if uri.startswith(prefix):
            return uri[len(prefix):]
    return uri


# -- tick latency -----------------------------------------------------------


def tick_latencies(
    ticks: list[dict], file_batch: dict[str, int], commits: dict[int, float]
) -> list[float | None]:
    """Event-to-result latency of each tick file.

    ``ticks`` holds ``{"path", "due"}`` per landed file; ``file_batch`` maps
    a path to the micro-batch that read it; ``commits`` maps a sink version
    (the batch id, for a complete-mode ``VersionedSink``) to its
    ``committed_at``. A file's result is the first committed version at or
    after its batch; the latency runs from the file's due time to that
    commit. None marks a file no committed version has covered yet."""
    versions = sorted(commits)
    out: list[float | None] = []
    for t in ticks:
        b = file_batch.get(t["path"])
        if b is None:
            out.append(None)
            continue
        v = next((v for v in versions if v >= b), None)
        out.append(None if v is None else commits[v] - t["due"])
    return out


def backlog_grows(points: list[tuple[float, float]]) -> bool:
    """True when latency climbs with offered time: the least-squares slope
    of latency against due time exceeds GROWTH_SLOPE seconds per second.
    Below the sustainable rate latency stays flat; above it every second
    of input adds (rate - capacity) / capacity seconds of wait."""
    if len(points) < 3:
        return False
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return False
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
    return slope > GROWTH_SLOPE


def sustained_rate(steps: list[dict], limit_s: float) -> float | None:
    """Highest ladder rate whose tail latency meets ``limit_s`` with no
    growing backlog. ``steps`` are in climbing order, each with ``rate``,
    ``tail_s`` and ``grows``; the climb stops at the first step that fails."""
    best = None
    for s in steps:
        if s["grows"] or s["tail_s"] is None or s["tail_s"] > limit_s:
            break
        best = s["rate"]
    return best
