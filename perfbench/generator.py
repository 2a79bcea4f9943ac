"""Open-loop line generator for the rate phase, run as its own process:

    python3 -m perfbench.generator '<json config>'

During set-up it builds a seeded pool of wordCount lines as one buffer in
which every tick's file is a slice; once timed it only writes and renames
on schedule, so a slow engine never slows the offered load. Each file is
written in a staging directory and renamed into the source directory
(atomic on one filesystem), named with its tick index and due time. For
every tick it records the due time and the time the file landed.

Protocol: the config (``seed``, ``schedule``, ``tick_s``, ``src``,
``stage``, ``records``) is the only argument. The process prints one line
``ready <ticks>`` once its pool is built, reads the start time (epoch
seconds) as one line on standard input, lands the schedule, writes its
per-tick records as JSON to the ``records`` path and exits.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import time

from . import datagen

POOL_LINES = 200_000
# A small vocabulary keeps the complete-mode state (one row per word) small,
# so a batch's cost is the engine's per-batch work plus the per-row work,
# not a rewrite of a large state; the drain corpora carry the large one.
POOL_VOCAB = 1_000


def plan(schedule: list[tuple[str, int, float]], tick_s: float) -> list[dict]:
    """Ticks of a schedule of (phase, lines/s, seconds): offset from the
    start, phase, and the range of pool lines the tick's file holds."""
    ticks = []
    offset = 0.0
    first = 0
    for phase, rate, seconds in schedule:
        n = round(seconds / tick_s)
        per = max(1, round(rate * tick_s))
        for i in range(n):
            ticks.append({"phase": phase, "at": offset + i * tick_s,
                          "first": first, "lines": per})
            first += per
        offset += n * tick_s
    return ticks


@functools.lru_cache(maxsize=1)
def pool(seed: int) -> list[str]:
    """The seeded pool, built once per process; callers do not modify it."""
    rng = datagen.seeded(seed, "rate-pool")
    return datagen.word_lines(rng, POOL_LINES, vocab=POOL_VOCAB)


def buffer(lines: list[str]) -> tuple[memoryview, list[int]]:
    """The pool twice over as one buffer, and the start offset of each line
    in it: any run of up to ``len(lines)`` consecutive pool lines, wrapping
    around the end, is then one slice."""
    doubled = lines + lines
    data = ("\n".join(doubled) + "\n").encode()
    offsets = list(itertools.accumulate((len(line) + 1 for line in doubled), initial=0))
    return memoryview(data), offsets


def render(buf: tuple[memoryview, list[int]], first: int, n: int) -> memoryview:
    """Pool lines ``first`` .. ``first + n - 1`` (wrapping), one per line;
    ``n`` is at most the pool size (the top ladder step needs 42,715)."""
    data, offsets = buf
    start = first % ((len(offsets) - 1) // 2)
    return data[offsets[start]:offsets[start + n]]


def main(cfg: dict) -> None:
    """Build, report ready, wait for the start time, land, write records."""
    buf = buffer(pool(cfg["seed"]))
    ticks = plan(cfg["schedule"], cfg["tick_s"])
    src, stage = cfg["src"], cfg["stage"]
    os.makedirs(stage, exist_ok=True)
    print(f"ready {len(ticks)}", flush=True)
    t0 = float(sys.stdin.readline())
    records = []
    for k, t in enumerate(ticks):
        due = t0 + t["at"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"tick-{k:06d}-{int(due * 1e6)}.txt"
        tmp = os.path.join(stage, name)
        with open(tmp, "wb") as f:
            f.write(render(buf, t["first"], t["lines"]))
        os.rename(tmp, os.path.join(src, name))
        records.append({"path": os.path.join(src, name), "due": due,
                        "landed": time.time(), "phase": t["phase"],
                        "lines": t["lines"], "first": t["first"]})
    with open(cfg["records"], "w") as f:
        json.dump(records, f)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
