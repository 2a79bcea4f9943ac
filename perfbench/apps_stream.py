"""apps_stream: the three reference apps as a deployment runs them, in two
phases that load different layers.

Drain phase (closed loop, one drain at a time): each app drains a
pre-landed, seeded corpus availableNow through ``streaming.sources``, the
``apps.APP_REGISTRY`` pipeline and a ``VersionedSink``, in a few large
batches. The load falls on ``apps``/``functions.tokens``, the shuffle and
the state store; per-batch coordination is amortized away.

Rate phase (open loop), last in the run: a generator process lands one
atomically renamed file per 100 ms tick into the source directory of
``start_app(spark, "wordCount", ..., period="1 second")``: a 3 s burst at
``HIGH`` lines/s whose ticks are not samples, then ``--seconds`` at
``HIGH``. Every tick file's latency runs from its due time to the
``committed_at`` of the first sink version whose batch read it. The load
falls on the per-batch work of the engine, source and sink (planning,
offset and commit logs, file listing, the sink commit) plus the per-row
work of the pipeline. The traced run adds ``LOW_S`` at ``LOW``,
where the per-row work is negligible, climbs the ``LADDER`` for the
sustained rate, and repeats drains and ``LOW`` in a ``local[1]`` session.
Spark runs ``local[3]``; the generator shares the box's fourth core with
the driver.

Set-up ends with a warm-up drain of a sixth of the wordcount corpus. The
drains run before the rate phase, which then starts on a warm JVM.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import time
from collections import Counter

from . import drains, generator
from .common import CORES, ROOT, tail
from .stats import (
    backlog_grows,
    percentile,
    read_source_log,
    sustained_rate,
    tick_latencies,
)

TICK_S = 0.1
# A batch of this app costs ~1.1 s even at LOW, so with a 1 s period the
# trigger always fires back to back and each batch holds the input that
# arrived during the previous one. A 2 s period put HIGH's 1.6-1.8 s
# batches close to the period, and the query flipped between paced and
# back-to-back batches from run to run (p50 2.7 s or 3.8 s).
PERIOD = "1 second"
LOW = 1_000
LOW_S = 5.0  # 50 ticks: p75 is the tail they support
# Half the sustained rate measured at local[3] with this trigger, after the
# warm-up drains, on one fresh query with 15 s per step: 253,125 lines/s
# held in two runs (p90 4.6 s and 4.75 s, no growing backlog), 295,000
# failed (p90 5.5 s) and 337,500 failed (p90 6.8 s, growing backlog).
HIGH = 126_563
LADDER = tuple(round(HIGH * 1.5**k) for k in (1, 2, 3))  # climbs past the knee
LADDER_STEP_S = 6.0
WARM_S = 3.0
WARM_COPIES_DIV = 6  # the warm-up drain runs a sixth of the wordcount corpus
LIMIT_S = 5.0  # tail-latency limit: half the reference's 10 s flush
APP = "wordCount"
RESULT = "wordcount_result"


class RateRun:
    """One open-loop run of the wordCount app: generator process, streaming
    query, and the join of landed files to committed versions."""

    def __init__(self, bench, tag: str, schedule: list[tuple[str, int, float]]):
        self.bench = bench
        self.tag = tag
        self.schedule = schedule
        self.src = bench.dir(tag, "src")
        self.stage = bench.dir(tag, "stage")
        self.out = bench.dir(tag, "out")
        self.query = None
        self.records_path = os.path.join(bench.dir(tag), "records.json")
        cfg = {"seed": bench.seed, "schedule": schedule, "tick_s": TICK_S,
               "src": self.src, "stage": self.stage, "records": self.records_path}
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.generator", json.dumps(cfg)],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def start(self, spark) -> None:
        """Wait for the generator's pool, start the app, land a first file
        and wait for its version: after this the engine is ready."""
        from crane_stream_processing_spark.streaming.engine import start_app

        spans = self.bench.spans
        with spans.span("generator.ready", self.tag):
            ready, _, _ = select.select([self.proc.stdout], [], [], 120)
            if not ready or not self.proc.stdout.readline().startswith("ready"):
                raise RuntimeError("generator did not get ready")
        self.warm_lines = generator.pool(self.bench.seed)[:100]
        with open(os.path.join(self.stage, "first.txt"), "w") as f:
            f.write("\n".join(self.warm_lines) + "\n")
        with spans.span("engine.start", self.tag):
            self.query = start_app(spark, APP, self.src, self.out, period=PERIOD)
        os.rename(os.path.join(self.stage, "first.txt"), os.path.join(self.src, "first.txt"))
        with spans.span("engine.first_version", self.tag):
            self._wait(lambda: self._commits(), 120)

    def go(self) -> list[dict]:
        """Land the schedule; returns the generator's per-tick records."""
        t0 = time.time() + 0.2
        self.t0 = t0
        self.proc.stdin.write(f"{t0!r}\n")
        self.proc.stdin.close()
        total = sum(s for _, _, s in self.schedule)
        if self.proc.wait(total + 60) != 0:
            raise RuntimeError("generator did not finish its schedule")
        with open(self.records_path) as f:
            records = json.load(f)
        self.records = records
        return records

    def finish(self) -> None:
        """Wait until every landed file is in a committed version, then stop."""
        from crane_stream_processing_spark.streaming.engine import stop_app

        paths = [r["path"] for r in self.records]

        def covered():
            fb = read_source_log(self._checkpoint())
            commits = self._commits()
            if not commits or any(p not in fb for p in paths):
                return False
            return max(commits) >= max(fb[p] for p in paths)

        self._wait(covered, 60)
        stop_app(self.query)
        self.query = None

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.proc.stdout.close()
        if not self.proc.stdin.closed:
            self.proc.stdin.close()

    # -- analysis -------------------------------------------------------------

    def _checkpoint(self) -> str:
        return os.path.join(self.out, RESULT, "_checkpoint")

    def _commits(self) -> dict[int, float]:
        d = os.path.join(self.out, RESULT, "_manifest")
        out = {}
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    m = json.load(f)
                out[int(m["version"])] = float(m["committed_at"])
        return out

    @staticmethod
    def _wait(pred, timeout: float) -> None:
        end = time.time() + timeout
        while not pred():
            if time.time() > end:
                raise TimeoutError("streaming query did not catch up")
            time.sleep(0.05)

    def analyse(self, spark, count_ticks: bool = True) -> dict:
        """Per phase: latency samples, lateness, uncovered files; and the
        exactly-once check of the final version against every landed line.
        Ticks count as operations unless ``count_ticks`` is off (the ladder
        probes past the sustainable rate on purpose)."""
        bench = self.bench
        planned = Counter(t["phase"] for t in generator.plan(self.schedule, TICK_S))
        fb = read_source_log(self._checkpoint())
        commits = self._commits()
        lat = tick_latencies(self.records, fb, commits)
        phases: dict[str, dict] = {}
        for rec, l in zip(self.records, lat):
            if rec["phase"] == "warm":
                continue
            ph = phases.setdefault(rec["phase"], {"lat": [], "points": [], "late": [],
                                                  "planned": planned[rec["phase"]]})
            late = rec["landed"] - rec["due"]
            ph["late"].append(late)
            bench.attempted += count_ticks
            if late > TICK_S:
                if count_ticks:
                    bench.fail(f"{self.tag}.{rec['phase']} tick", f"generator {late:.3f} s late")
            elif l is None:
                if count_ticks:
                    bench.fail(f"{self.tag}.{rec['phase']} tick", "file never committed")
            else:
                ph["lat"].append(l)
                ph["points"].append((rec["due"] - self.t0, l))
        bench.attempted += 1
        want = drains.top(self._landed_counts())
        got = drains.result_top(spark, self.out, RESULT)
        if got != want:
            bench.fail(f"{self.tag} final version", f"top-5 {got} != exact count {want}")
        self.file_batch, self.commit_times = fb, commits
        return phases

    def _landed_counts(self) -> Counter:
        """Exact counts over the first file and every tick: the ticks hold
        pool lines 0, 1, 2, ... in order, wrapping around the pool."""
        lines = generator.pool(self.bench.seed)
        total = sum(r["lines"] for r in self.records)
        whole = drains.exact_counts(APP, lines)
        out = drains.exact_counts(APP, self.warm_lines + lines[: total % len(lines)])
        for k, v in whole.items():
            out[k] += v * (total // len(lines))
        return out


def summary(ph: dict) -> dict:
    lat = ph["lat"]
    t, label = tail(lat, ph["planned"])
    return {"n": len(lat), "p50_s": percentile(lat, 50), "tail_s": t, "tail": label,
            "grows": backlog_grows(ph["points"]), "late_max_s": max(ph["late"])}


def drain_phase(bench, spark, corpora: dict, tag: str = "drain_out") -> dict:
    """Drain each corpus once, in a fixed order (so JVM and pipeline warm-up
    fall on the same drains in every run); check each app's top-5."""
    spans = bench.spans
    out: dict[str, dict] = {}
    for name in corpora:
        app, lines, copies, src = corpora[name]
        bench.attempted += 1
        sink = bench.dir(tag)
        bench.job_group(name)
        try:
            with spans.span("drain", name) as s:
                sec = drains.drain(spark, spans, app, src, sink, name)
        except Exception as e:  # noqa: BLE001 — a failed drain is a failed operation
            bench.fail(name, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}")
            continue
        n = len(lines) * copies
        out[name] = {"s": sec, "lines": n, "lines_per_s": n / sec,
                     "start": s["start"], "end": s["end"]}
        got = drains.result_top(spark, sink, name)
        want = drains.expected_top(app, lines, copies)
        if got != want:
            bench.fail(name, f"top-5 {got} != exact count {want}")
    return out


def land_corpora(bench, tag: str, copies_div: int = 1, names=None) -> dict:
    from . import datagen

    corpora = {}
    for name, app, n, copies in drains.CORPORA:
        if names is not None and name not in names:
            continue
        lines = datagen.make_corpus(app, bench.seed, n)
        c = max(1, copies // copies_div)
        src = bench.dir(tag, name)
        drains.land(lines, c, src, drains.FILES_PER_CORE * CORES)
        corpora[name] = (app, lines, c, src)
    return corpora


def rate_once(bench, spark, tag: str, schedule, count_ticks: bool = True):
    rr = RateRun(bench, tag, schedule)
    try:
        rr.start(spark)
        rr.go()
        rr.finish()
        return rr, {k: summary(v) for k, v in rr.analyse(spark, count_ticks).items()}
    finally:
        rr.close()


def ladder(bench, spark, high: dict) -> dict:
    """Climb the fixed ladder above HIGH, one step after another on one
    query; the sustained rate is the highest step before the first whose
    tail latency passes LIMIT_S or whose latency grows with time."""
    schedule = [(f"step_{r}", r, LADDER_STEP_S) for r in LADDER]
    _, ph = rate_once(bench, spark, "ladder", schedule, False)
    steps = [{"rate": HIGH, "tail_s": high["tail_s"], "grows": high["grows"]}]
    for r in LADDER:
        st = ph[f"step_{r}"]
        steps.append({"rate": r, "tail_s": st["tail_s"], "grows": st["grows"],
                      "p50_s": st["p50_s"], "late_max_s": st["late_max_s"]})
    return {"steps": steps, "sustained_lines_per_s": sustained_rate(steps, LIMIT_S)}


def single_core(bench) -> dict:
    """The same drains (a sixteenth of each corpus) and the LOW rate run in a
    local[1] session: the single-threaded baseline. Reported, not gated."""
    bench.stop_spark()
    spark = bench.start_spark(master="local[1]")
    corpora = land_corpora(bench, "corpus_1core", copies_div=16)
    drained = drain_phase(bench, spark, corpora, tag="drain_out_1core")
    _, ph = rate_once(bench, spark, "rate_1core", [("low", LOW, LOW_S)])
    out = {f"local1.drain_lines_per_s.{k}": d["lines_per_s"] for k, d in drained.items()}
    out["local1.latency_p50_s.low"] = ph["low"]["p50_s"]
    out[f"local1.latency_{ph['low']['tail']}_s.low"] = ph["low"]["tail_s"]
    return out


def run(bench) -> dict:
    spans = bench.spans
    # A short burst at HIGH lets the query's first large batches settle; its
    # ticks are not samples. The traced run adds LOW after HIGH, so HIGH
    # runs in the same state in both runs and the tracing overhead compares
    # like with like.
    schedule = [("warm", HIGH, WARM_S), ("high", HIGH, bench.seconds)]
    schedule += [("low", LOW, LOW_S)] * bench.trace
    # The set-up steps run one after another, not side by side, so that
    # their sum does not depend on how the box schedules them.
    with spans.span("datagen", "setup"):
        corpora = land_corpora(bench, "corpus")
        warm_corpora = land_corpora(bench, "corpus_warm", WARM_COPIES_DIV, ("wordcount",))
    spark = bench.start_spark()
    # In a fresh JVM the first streaming query pays ~10 s of one-time start
    # cost, and the apps run 2-3x slower until the JIT has compiled their
    # code paths: a first drain of the wordCount corpus ran at 37k lines/s,
    # the third at 128k. A drain of a sixth of the wordCount corpus (the
    # slowest app, and the one the rate phase runs) takes the start cost and
    # part of the warm-up into set-up, as the registry's warm-up queries do;
    # the measured drains then warm the JVM for the rate phase.
    with spans.span("session.warmup", "setup"):
        drain_phase(bench, spark, warm_corpora, tag="drain_warm")
    rate = RateRun(bench, "rate", schedule)
    try:
        rate.start(spark)
        setup_s = bench.setup_done()

        drained = drain_phase(bench, spark, corpora)
        with spans.span("rate", "rate"):
            rate.go()
            rate.finish()
        phases = {k: summary(v) for k, v in rate.analyse(spark).items()}
    finally:
        rate.close()
    traced = {}
    if bench.trace:
        traced["ladder"] = ladder(bench, spark, phases["high"])
        traced.update(single_core(bench))

    high = phases["high"]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": high["p50_s"],
        "latency_tail_s": high["tail_s"],
        "throughput_per_s": sum(d["lines"] for d in drained.values())
        / sum(d["s"] for d in drained.values()),
    }
    report = {f"drain_lines_per_s.{k}": d["lines_per_s"] for k, d in drained.items()}
    for ph, s in phases.items():
        report[f"latency_p50_s.{ph}"] = s["p50_s"]
        report[f"latency_{s['tail']}_s.{ph}"] = s["tail_s"]
        report[f"latency_samples.{ph}"] = s["n"]
        report[f"backlog_grows.{ph}"] = s["grows"]
        report[f"generator_late_max_s.{ph}"] = s["late_max_s"]
    report.update(traced)
    return {"e2e": e2e, "report": report, "drains": drained, "rate": rate,
            "phases": phases, "traced": traced}
