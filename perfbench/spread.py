#!/usr/bin/env python3
"""Run the benchmark once per seed on each workload and report, per
end-to-end metric, the median, the quartiles and the quartile spread
((Q3 - Q1) / median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --runs 10 [--workloads ask ingest] \
        [--first-seed 1000] [--traced-runs 3] [--compare earlier.json] \
        [--out perfbench/.last/spread.json]

Run from the repository root. Each run is a separate process, exactly as
BENCHMARK.json's command is run. Every figure a run prints (the bounded
metrics and the unbounded ones such as ``drain_per_s`` and ``phases_s``)
is recorded per run. With ``--traced-runs N`` each of the first N seeds
is run traced right after its untraced run: the traced runs' per-layer
metrics are recorded, and the tracing overhead is the median over those
pairs of traced minus untraced figure (paired, so that the host's drift
over a set of runs does not count as overhead). ``--compare`` checks
that each bounded median is not worse than the earlier report's by more
than the bound. ``perfbench/baseline.json`` was written by this script.
Exits 1 if a run fails its checks, a spread exceeds its bound or a median
moved by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PRINTED = re.compile(
    r"^(\S+)\s+(-?[0-9.]+(?:e[-+]?[0-9]+)?|inf|nan)\s+(\S+)$")
_SELF_SUM = re.compile(r"sum of self times\s+([0-9.]+) s")


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    """One run: its JSON line, every ``name value unit`` line it printed,
    the blocking-path self-time sum (traced) and its wall time."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           f"{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["printed"] = {m.group(1): float(m.group(2)) for m in
                      map(_PRINTED.match, lines[:-1]) if m}
    sums = [float(m.group(1)) for m in map(_SELF_SUM.search, lines) if m]
    if sums:
        res["blocking_self_s"] = sums[0]
    res["wall_s"] = wall
    return res


def summary(vs: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return {"values": vs, "median": q2, "q1": q1, "q3": q3,
            "spread": stats.quartile_spread(vs)}


def worse_by(new: float, old: float, better: str) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    return (new - old) / old if better == "lower" else (old - new) / old


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--traced-runs", type=int, default=0)
    ap.add_argument("--compare")
    ap.add_argument("--out", default=os.path.join(
        ROOT, "perfbench", ".last", "spread.json"))
    args = ap.parse_args()

    e2e = {m["name"]: m for m in spec["end_to_end"]}
    earlier = None
    if args.compare:
        with open(args.compare) as f:
            earlier = json.load(f)["workloads"]
    report = {"run_seconds": spec["run_seconds"],
              "seeds": f"{args.first_seed}-{args.first_seed + args.runs - 1}",
              "workloads": {}}
    ok = True
    for w in args.workloads:
        runs, traced = [], []
        for i in range(args.runs):
            seed = args.first_seed + i
            runs.append(run_once(spec, w, seed, 0))
            r = runs[-1]
            ok = ok and r["correct"]
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s wall, correct="
                  f"{r['correct']}, " + ", ".join(
                      f"{m}={r['metrics'][m]['value']:.4g}" for m in e2e),
                  flush=True)
            if i < args.traced_runs:
                traced.append(run_once(spec, w, seed, 1))
                ok = ok and traced[-1]["correct"]
                print(f"{w} seed {seed} traced: {traced[-1]['wall_s']:.1f} s"
                      f" wall, correct={traced[-1]['correct']}", flush=True)
        rep = {"wall_s": [r["wall_s"] for r in runs], "metrics": {},
               "printed": {}, "failed": [r["failed"] for r in runs]}
        for m, spec_m in e2e.items():
            s = summary([r["metrics"][m]["value"] for r in runs])
            s["bound"] = spec_m["bound"]
            flag = "" if s["spread"] <= s["bound"] / 3 else \
                "  <-- above bound/3"
            if s["spread"] > s["bound"]:
                ok = False
                flag = "  <-- ABOVE BOUND"
            if earlier is not None:
                s["worse_than_compared"] = worse_by(
                    s["median"], earlier[w]["metrics"][m]["median"],
                    spec_m["better"])
                if s["worse_than_compared"] > s["bound"]:
                    ok = False
                    flag += "  <-- MEDIAN MOVED BEYOND BOUND"
            rep["metrics"][m] = s
            moved = ("" if earlier is None else
                     f"  worse by {s['worse_than_compared']:+.3f}")
            print(f"{w:8s} {m:20s} median {s['median']:10.4g}  q1 "
                  f"{s['q1']:10.4g}  q3 {s['q3']:10.4g}  spread "
                  f"{s['spread']:6.3f} / bound {s['bound']}{moved}{flag}")
        for m in sorted(set.intersection(*(set(r["printed"]) for r in runs))
                        - set(e2e)):
            rep["printed"][m] = summary([r["printed"][m] for r in runs])
        for m in ("drain_per_s", "phases_s"):
            s = rep["printed"][m]
            print(f"{w:8s} {m:20s} median {s['median']:10.4g}  spread "
                  f"{s['spread']:6.3f} (printed, unbounded)")
        walls = rep["wall_s"]
        print(f"{w:8s} wall per run: median {statistics.median(walls):.1f} s,"
              f" max {max(walls):.1f} s", flush=True)

        if traced:
            pairs = list(zip(traced, runs))
            over = statistics.median(
                t["metrics"]["trace.phases_s"]["value"]
                - u["printed"]["phases_s"] for t, u in pairs)
            over_lat = statistics.median(
                t["metrics"]["trace.latency_p50_s"]["value"]
                - u["metrics"]["latency_p50_s"]["value"] for t, u in pairs)
            t_ph = statistics.median(t["metrics"]["trace.phases_s"]["value"]
                                     for t in traced)
            u_ph = statistics.median(u["printed"]["phases_s"]
                                     for _, u in pairs)
            self_s = statistics.median(t["blocking_self_s"] for t in traced)
            rep["traced"] = {
                "seeds": [args.first_seed + i for i in range(len(traced))],
                "wall_s": [t["wall_s"] for t in traced],
                "failed": [t["failed"] for t in traced],
                "phases_s": t_ph, "untraced_phases_s": u_ph,
                "overhead_phases_s": over,
                "overhead_latency_p50_s": over_lat,
                "blocking_self_s": self_s,
                "per_layer": {k: statistics.median(
                    t["metrics"][k]["value"] for t in traced)
                    for k in traced[0]["metrics"]},
            }
            print(f"{w:8s} traced on {len(traced)} seeds: timed phases "
                  f"{t_ph:.3f} s vs untraced {u_ph:.3f} s, paired overhead "
                  f"{over:+.3f} s (latency_p50 {over_lat:+.3f} s); "
                  f"blocking-path self times sum to {self_s:.3f} s",
                  flush=True)
        report["workloads"][w] = rep
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
