"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {build,query} --seed N --seconds S --trace {0,1}

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines above it
show the same numbers as a table. Exits non-zero, printing no result,
when noise_spark cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("noise_spark") is None:
        print("perfbench: noise_spark is not importable from " + ROOT, file=sys.stderr)
        return 2

    from perfbench.layers import END_TO_END, OPERATION, PER_LAYER
    from perfbench.workloads import WORKLOADS, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.close()

    run.layer["rss.peak_mb"] = run.rss.peak_mb
    for name, mb in run.rss.parts_mb.items():
        run.layer[f"rss.{name}_mb"] = mb
    if args.trace:
        rows = [(n, run.layer.get(n, 0.0), u, f"→ {moves} on {wl}") for n, u, _, moves, wl in PER_LAYER]
    else:
        run.end_to_end["setup_s"] = run.setup_s
        op, unit = OPERATION[args.workload]
        notes = {"latency_mean_s": f"per {op}", "throughput_per_s": f"{unit} per second"}
        rows = [(n, run.end_to_end[n], u, notes.get(n, "")) for n, u, _, _ in END_TO_END]

    failed = len(run.failures)
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for name, value, unit, note in rows:
        print(f"  {name:34s} {value:14.6g} {unit:6s} {note}")
    for name, value, note in run.report:
        print(f"  {name:34s} {value:14.6g} {note}")
    parts = " + ".join(f"{k} {v:.0f}" for k, v in run.rss.parts_mb.items())
    print(f"  {'peak_rss_mb':34s} {run.rss.peak_mb:14.6g} MB ({parts})")
    print(f"  {'error_rate':34s} {failed / max(run.attempted, 1):14.6g} failed/attempted ({failed}/{run.attempted})")
    for f in run.failures[:20]:
        print("  FAIL " + f)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, value, unit, _ in rows},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
