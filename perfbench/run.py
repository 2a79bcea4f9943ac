#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 15 --trace 0

Workloads: ``registry_mix`` and ``apps_stream`` (see
``BENCHMARK.json`` for why each was chosen). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; with ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones. The line before it is a report with every
figure the workload measured, under its own name.

Run from the root of a checkout that holds the package; the run writes only
under ``.perfbench_work/`` there and removes its own scratch directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("registry_mix", "apps_stream")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The package under test must be importable before anything runs; a
    # checkout without it fails here, before any result is printed.
    import crane_stream_processing_spark  # noqa: F401

    from perfbench import common, layers

    common.become_subreaper()
    bench = common.Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    module = __import__(f"perfbench.{args.workload}", fromlist=["run"])
    try:
        out = module.run(bench)
        bench.stop_spark()
        if bench.trace:
            metrics, traced_report = layers.per_layer(bench, out)
            out["report"].update(traced_report)
        else:
            metrics = {
                k: {"value": v, "unit": common.E2E_UNITS[k]} for k, v in out["e2e"].items()
            }
        common.record_result(bench, out["e2e"], {"per_query": out.get("per_query")})
    finally:
        try:
            bench.shutdown()
        finally:
            common.reap_children()
            bench.cleanup()

    # The first span of each name: the traced run's local[1] session opens a
    # second, near-free get_spark span.
    setup_spans: dict[str, float] = {}
    for r in bench.spans.rows:
        if r["trace"] == "setup":
            setup_spans.setdefault(r["name"], r["end"] - r["start"])
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "e2e": out["e2e"], **out["report"], "setup_spans": setup_spans,
              "failures": bench.failures}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    # Any exception propagates: Python prints it and exits non-zero, and no
    # result line has been printed yet.
    sys.exit(main())
