"""The drain phase of apps_stream: a closed loop of one drain at a time
over the three reference apps, each draining a pre-landed, seeded corpus.

The path is the one a deployment runs: ``streaming.sources.file_lines``,
then the ``apps.APP_REGISTRY`` pipeline, then a complete-mode
``VersionedSink``, triggered availableNow so the whole corpus goes through
in a few large batches and per-batch coordination is amortized away. The
corpora differ in the property the engine is sensitive to: Zipf words over a
large vocabulary (wordCount), Zipf followees over ~10^6 users, which makes a
large state and shuffle (twitter), and CLF lines with ~25 % non-200 over
~10^2 resources, which is filter-heavy with a tiny state (hothttp).
"""

from __future__ import annotations

import os
import time
from collections import Counter

# name in the report, app, distinct lines generated, copies landed. The
# copies bring each drain to 3-4.5 s at local[3] on a warm JVM.
CORPORA = (
    ("wordcount", "wordCount", 40_000, 12),
    ("top_users", "twitter", 100_000, 16),
    ("hot_resources", "hothttp", 50_000, 24),
)
FILES_PER_CORE = 4
TOP_K = 5


def exact_counts(app: str, lines: list[str]) -> Counter:
    """The app's per-key counts over ``lines``, computed in Python with the
    reference semantics the pipelines implement."""
    c: Counter = Counter()
    for line in lines:
        f = line.split()
        if app == "wordCount":
            c.update(f)
        elif app == "twitter":
            if len(f) == 2:
                c[f[1]] += 1
        elif "200" in line and len(f) >= 10:
            c[f[6]] += 1
    return c


def top(counts: Counter, k: int = TOP_K) -> list[tuple[str, int]]:
    """Top-k ordered (count desc, key asc), as the pipelines order it."""
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def expected_top(app: str, lines: list[str], copies: int) -> list[tuple[str, int]]:
    """Top-k of ``copies`` copies of ``lines``."""
    return [(k, v * copies) for k, v in top(exact_counts(app, lines))]


def land(lines: list[str], copies: int, out_dir: str, n_files: int) -> None:
    """``copies`` copies of ``lines`` as ``n_files`` files of near-equal size."""
    os.makedirs(out_dir, exist_ok=True)
    text = "\n".join(lines) + "\n"
    per_file = [copies // n_files + (i < copies % n_files) for i in range(n_files)]
    if copies < n_files:
        # Fewer copies than files: split the lines instead, every copy once.
        step = -(-len(lines) // n_files)
        chunks = ["\n".join(lines[i:i + step]) + "\n" for i in range(0, len(lines), step)]
        for c in range(copies):
            for i, chunk in enumerate(chunks):
                with open(os.path.join(out_dir, f"part-{c:03d}-{i:03d}.txt"), "w") as f:
                    f.write(chunk)
        return
    for i, k in enumerate(per_file):
        with open(os.path.join(out_dir, f"part-{i:03d}.txt"), "w") as f:
            for _ in range(k):
                f.write(text)


def drain(spark, spans, app: str, source: str, out: str, name: str) -> float:
    """availableNow drain of ``source`` through ``app`` into a versioned
    sink; returns the seconds from start to termination."""
    from crane_stream_processing_spark.apps import APP_REGISTRY
    from crane_stream_processing_spark.streaming.sinks import VersionedSink
    from crane_stream_processing_spark.streaming.sources import file_lines

    t0 = time.perf_counter()
    with spans.span("apps.build", name):
        plan = APP_REGISTRY[app](file_lines(spark, source))
    q = (
        plan.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .foreachBatch(VersionedSink(out, name))
        .option("checkpointLocation", os.path.join(out, name, "_checkpoint"))
        .queryName(f"drain_{name}")
        .start()
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return time.perf_counter() - t0


def result_top(spark, out: str, name: str) -> list[tuple[str, int]]:
    from crane_stream_processing_spark.streaming.sinks import read_latest

    rows = read_latest(spark, out, name).collect()
    return sorted(((r[0], int(r[1])) for r in rows), key=lambda kv: (-kv[1], kv[0]))
