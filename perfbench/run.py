#!/usr/bin/env python3
"""Streaming-RAG benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints one ``name value unit`` line per
metric, then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
Exits non-zero without a JSON line if the engine package is missing or a
run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PHASES = ("phase.drain", "phase.open_loop")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ask", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "flink_rag_spark")):
        print(f"engine package flink_rag_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, Bench

    bench = Bench(ROOT, args.workload, args.seed, args.seconds,
                  bool(args.trace))
    try:
        res = WORKLOADS[args.workload](bench)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()

    shown = res.layers if args.trace else res.metrics
    # the set-up parts are printed on untraced runs too
    for name, (value, unit) in {**res.layers, **shown, **res.info}.items():
        print(f"{name:34s} {value:16.10g} {unit}")
    for p in res.problems:
        print(f"check failed: {p}")
    if args.trace:
        path = os.path.join(bench.last, f"trace_{args.workload}.json")
        bench.tracer.dump(path)
        # the blocking path: the timed phases, the span tree whose wall
        # time is the traced run's end-to-end time
        selfs = bench.tracer.self_times(PHASES)
        print(f"spans written to {os.path.relpath(path, ROOT)}; "
              "self time per span on the blocking path:")
        for name, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
            print(f"  {name:32s} {s:10.3f} s")
        print(f"  {'sum of self times':32s} {sum(selfs.values()):10.3f} s"
              f"  (timed phases {res.layers['trace.phases_s'][0]:.3f} s)")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
