#!/usr/bin/env python3
"""Steadiness check: runs each workload repeatedly, in two sets on the
same code, and reports every end-to-end metric's median, quartiles and
spread (interquartile range over the median) per set, the drift of the
second set's median from the first's, and the regression bound that
spread supports.

    python3 perfbench/steady.py [--runs 10] [--seconds S] [--workloads a,b] [--out file.json]

Run from the root of a checkout. Set 1 uses seeds 1..runs, set 2 seeds
101..100+runs. A bound is derived as the larger of 3.5 x the worse
set's spread and 1.5 x the drift, rounded up to a multiple of 0.05 and
kept within [0.05, 0.25]. A metric whose derived bound would exceed
0.25 is reported as unsteady. `--seconds` defaults to BENCHMARK.json's
`run_seconds`.
Three traced runs per workload (seeds 201..203) then give the tracing
overhead: their median `trace.wall_s` over the median pass wall
(`wall_s` in the environment line) of set 1's untraced runs.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402

MAX_BOUND = 0.25


def run_once(workload, seed, seconds, trace=0):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    env, result = (json.loads(ln) for ln in proc.stdout.strip().splitlines()[-2:])
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: {result['failed']} failed operations")
    return {k: v["value"] for k, v in result["metrics"].items()}, env["env"]


def derive_bound(spreads, drift):
    need = max(3.5 * max(spreads), 1.5 * drift)
    return max(0.05, math.ceil(need / 0.05 - 1e-9) * 0.05)


def summarize(values_by_set):
    """values_by_set: [set1 values, set2 values] of one metric."""
    sets = []
    for vs in values_by_set:
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        sets.append({"median": q2, "q1": q1, "q3": q3, "spread": benchlib.spread(vs)})
    drift = abs(sets[1]["median"] - sets[0]["median"]) / sets[0]["median"]
    return sets, drift


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    meta = json.loads(Path("BENCHMARK.json").read_text())
    seconds = args.seconds or meta["run_seconds"]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in meta["workloads"]]
    report = {"runs": args.runs, "seconds": seconds, "workloads": {}}
    for wl in workloads:
        runs = [[run_once(wl, base + i, seconds) for i in range(1, args.runs + 1)]
                for base in (0, 100)]
        samples = [[m for m, _ in st] for st in runs]
        rows = {}
        for m in meta["end_to_end"]:
            name = m["name"]
            sets, drift = summarize([[s[name] for s in st] for st in samples])
            bound = derive_bound([s["spread"] for s in sets], drift)
            rows[name] = {"sets": sets, "drift": drift, "derived_bound": min(bound, MAX_BOUND),
                          "steady": bound <= MAX_BOUND, "bound": m["bound"],
                          "within_bound": all(s["spread"] <= m["bound"] for s in sets)
                          and drift <= m["bound"]}
            print(f"{wl:16s} {name:12s} " + "  ".join(
                f"set{i + 1} med {s['median']:10.3f} q1 {s['q1']:10.3f} q3 {s['q3']:10.3f} "
                f"spread {s['spread']:.3f}" for i, s in enumerate(sets))
                + f"  drift {drift:.3f}  derived {bound:.2f}  bound {m['bound']:.2f}", flush=True)
        # the pass wall and median latency are recorded beside the metrics;
        # their spread is what kept them out of the end-to-end metrics
        timings = {}
        for name in ("wall_s", "p50_ms"):
            sets, drift = summarize([[env[name] for _, env in st] for st in runs])
            timings[name] = {"sets": sets, "drift": drift}
            print(f"{wl:16s} {name:12s} (recorded, not a metric) " + "  ".join(
                f"set{i + 1} med {s['median']:10.3f} spread {s['spread']:.3f}"
                for i, s in enumerate(sets)) + f"  drift {drift:.3f}", flush=True)
        traced = [run_once(wl, 200 + i, seconds, trace=1)[0]["trace.wall_s"] for i in range(1, 4)]
        untraced = statistics.median(env["wall_s"] for _, env in runs[0])
        overhead = statistics.median(traced) / untraced - 1
        print(f"{wl:16s} tracing overhead: traced wall_s median {statistics.median(traced):.3f} "
              f"vs untraced {untraced:.3f} ({100 * overhead:+.1f}%)", flush=True)
        report["workloads"][wl] = {"metrics": rows, "timings": timings, "traced_wall_s": traced,
                                   "env": [[env for _, env in st] for st in runs],
                                   "tracing_overhead": overhead}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    bad = [(w, n) for w, rep in report["workloads"].items() for n, r in rep["metrics"].items()
           if not r["within_bound"]]
    unsteady = [(w, n) for w, rep in report["workloads"].items()
                for n, r in rep["metrics"].items() if not r["steady"]]
    for w, n in bad:
        print(f"OUTSIDE BOUND: {w} {n}")
    for w, n in unsteady:
        print(f"UNSTEADY: {w} {n} (its spread or drift supports no bound up to {MAX_BOUND})")
    return 1 if bad or unsteady else 0


if __name__ == "__main__":
    sys.exit(main())
