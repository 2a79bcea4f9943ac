"""Run context shared by the workloads: where a run may write, the Spark
session it starts and stops, the trace it keeps, and the result it reports.

Everything a run writes lives under ``<checkout>/.perfbench_work/``. The
process environment is set before Spark starts so that Python's and the
JVM's temp files, Spark's local dirs and the Python workers' module path all
point into the checkout: the registry's media and CLF queries then run from
any launch directory, because the workers import the package from
``PYTHONPATH`` rather than from their working directory.
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import tempfile
import time

from crane_stream_processing_spark.streaming.monitor import ProgressRecorder

from . import stats
from .trace import EVENT_LOG_CONF, Spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(WORK_ROOT, "results.jsonl")
# Spark runs on 3 of the box's 4 cores; the fourth is left to the driver,
# the rate generator and the JVM's JIT and GC threads, which at local[4]
# competed with the executors. Over ten seeds, registry_mix's metrics
# spread 0.08-0.17 (interquartile range over median) at local[4] and
# 0.04-0.14 at local[3]; apps_stream's spread 0.09-0.25 at both, following
# the CPU time the host steals from the box.
CORES = 3

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
}


def prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def become_subreaper() -> None:
    """Make this process inherit its orphaned descendants (Linux), so that
    ``reap_children`` can end them too: the Python worker daemon Spark
    starts is the JVM's child and outlives it for a moment."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap_children(grace_s: float = 5.0) -> None:
    """Stop every child this process still has and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for child in _children():
            try:
                os.kill(child, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class Bench:
    """One benchmark run: seed, measured seconds, trace switch, scratch
    directory, spans, and the Spark session while one is up."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.t_start = time.perf_counter()
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        prepare_env(self.work)
        self.spans = Spans()
        self.spark = None
        self.recorder = None
        self.event_dir = os.path.join(self.work, "eventlog")
        self.failures: list[str] = []
        self.attempted = 0

    def dir(self, *parts: str) -> str:
        """A directory under the run's scratch directory, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # -- session ------------------------------------------------------------

    def start_spark(self, master: str | None = None):
        from crane_stream_processing_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # The JVM's perf-data file would otherwise land in /tmp.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = self.event_dir
        with self.spans.span("session.get_spark", "setup"):
            self.spark = get_spark(f"perfbench_{self.workload}", master=master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            # One recorder for the whole run, re-attached to each session.
            if self.recorder is None:
                self.recorder = TracingRecorder(self.spans)
            self.spark.streams.addListener(self.recorder)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session; the JVM stays up for a restart."""
        if self.spark is not None:
            if self.recorder is not None:
                self.spark.streams.removeListener(self.recorder)
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        self.stop_spark()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a hung JVM must not outlive the run
                proc.kill()
                proc.wait()

    def job_group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    # -- operations ---------------------------------------------------------

    def fail(self, op: str, cause: str) -> None:
        self.failures.append(f"{op}: {cause}")

    def setup_done(self) -> float:
        return time.perf_counter() - self.t_start

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


class TracingRecorder(ProgressRecorder):
    """ProgressRecorder that also notes which trace (registry query or app
    run) was open when each stream started. onQueryStarted runs
    synchronously inside ``start()``, so the innermost open span is the
    caller's."""

    def __init__(self, spans: Spans) -> None:
        super().__init__()
        self._spans = spans
        self.run_trace: dict[str, str] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802 (listener API)
        super().onQueryStarted(event)
        open_spans = [r for r in self._spans.rows if r["end"] is None]
        if open_spans:
            self.run_trace[str(event.runId)] = open_spans[-1]["trace"]

    def onQueryProgress(self, event) -> None:  # noqa: N802 (listener API)
        super().onQueryProgress(event)
        self.progress[-1]["run_id"] = str(event.progress.runId)


# -- reporting ----------------------------------------------------------------


def tail(values: list[float], planned: int) -> tuple[float, str]:
    """The tail latency a phase of ``planned`` samples supports: the highest
    percentile with at least ten of them beyond it. The percentile follows
    the planned count, not the samples that survive, so a dropped sample
    counts only as a failed operation and never changes the definition."""
    p = stats.tail_percentile(planned)
    if p is None:
        raise ValueError(f"{planned} samples support no tail percentile")
    return stats.percentile(values, p), f"p{p:g}"


def record_result(bench: Bench, e2e: dict, extra: dict) -> None:
    """Append this run's figures to the checkout's results file, which the
    traced run reads to report tracing overhead against untraced runs."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    row = {"workload": bench.workload, "seed": bench.seed, "trace": bench.trace,
           "metrics": e2e, **extra}
    with open(RESULTS, "a") as f:
        f.write(json.dumps(row) + "\n")


def untraced_results(workload: str) -> list[dict]:
    if not os.path.exists(RESULTS):
        return []
    with open(RESULTS) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r for r in rows if r["workload"] == workload and not r["trace"]]
