#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness (and,
through it, the program) with sbt, cached under `.bench_build/`. Each
run then starts one JVM, which sets up Spark, warms up, runs the
workload for `--seconds` (by default BENCHMARK.json's `run_seconds`) and
writes its raw measurements; this script checks every operation's
output and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics, or with
`--trace 1` the per-layer ones).

    python3 perfbench/run.py --calibrate

re-derives `perfbench/fingerprints.json`: it runs every query of every
workload through `graft.Verify`, checks the results with
`scripts/check_oracle.py` against the DuckDB oracle
(`SparkEntry.oracleSql`) or, for the queries without one, against the
bounds the test suite uses, and records the fingerprints of the results
that pass.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
WORKLOADS = json.loads((HERE / "workloads.json").read_text())
FINGERPRINTS = HERE / "fingerprints.json"
# the project's reference tables at scale 0.01, seed 42 (data/SHA256SUMS)
DATA = HERE / "data"
JVM_HEAP = "3g"
# rows of the shuffle normalizer, Bench.stateFreeShuffleCpu
NORM_ROWS = 1_000_000
# untimed passes before the timed ones: the first pays the cold costs
# (class loading, code generation, the once-per-JVM memo builds)
WARM_PASSES = 1
# a run must end within 180 s, apart from the first one's build
RUN_LIMIT_S = 170
# share of each query's wall its build + plan + exec spans must cover
COVERAGE_TOLERANCE = 0.99

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sources():
    return [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
            HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles the harness and the program; returns the run classpath."""
    missing = [p for p in sources() if not p.exists()]
    if missing:
        fail(f"not a checkout of the program: missing {', '.join(map(str, missing))}")
    out = BUILD / "harness"
    stamp, cp_file = out / "sources.sha256", out / "classpath.txt"
    digest = tree_hash(sources())
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text()
    out.mkdir(parents=True, exist_ok=True)
    log("building the harness and the program with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), capture_output=True, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        log(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def code_id():
    """The commit under test if this is a git checkout, else a hash of
    the program's sources."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
        if head.returncode == 0:
            return head.stdout.strip()
    except OSError:
        pass
    return "tree-" + tree_hash([ROOT / "src" / "main"])[:16]


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def make_plan(workload, seed, seconds, trace, work):
    return {"workload": workload, "seconds": seconds, "trace": bool(trace),
            "cores": cores(), "work_dir": str(work), "data_dir": str(DATA),
            "norm_rows": NORM_ROWS, "warm_passes": WARM_PASSES,
            "rounds": benchlib.layered_passes(WORKLOADS[workload], seed, 100)}


def java(classpath, work, args, timeout=None):
    """Runs `args` (a main class and its arguments) in a JVM on
    `classpath`, in `work`, logging to `work/jvm.log`. Returns the exit
    code, or "timeout"."""
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
              "-cp", classpath] + args)
    with open(work / "jvm.log", "w") as errlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=errlog, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def run_harness(classpath, plan, work, mode="perfbench.Harness"):
    work.mkdir(parents=True, exist_ok=True)
    plan_file, raw_file = work / "plan.json", work / "raw.json"
    plan_file.write_text(json.dumps(plan))
    code = java(classpath, work, [mode, str(plan_file), str(raw_file)],
                RUN_LIMIT_S if mode == "perfbench.Harness" else None)
    if code != 0 or not raw_file.is_file():
        log((work / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {code}")
    return json.loads(raw_file.read_text())


def check(raw):
    """Counts attempted and failed operations, the untimed warm-up pass
    included. A query fails when it throws or when its result's
    fingerprint differs from the committed, oracle-checked one."""
    refs = json.loads(FINGERPRINTS.read_text())["queries"]
    ops = raw["warm_ops"] + raw["ops"]
    failures = []
    for op in ops:
        if op["error"]:
            failures.append(f"{op['name']}: {op['error']}")
        elif op["fingerprint"] != refs.get(op["name"]):
            failures.append(f"{op['name']}: result {op['fingerprint']} != {refs.get(op['name'])}")
    return len(ops), failures


def end_to_end(raw):
    """End-to-end metrics of an untraced run, and the timings recorded
    beside them. The per-pass counts and timings come from the complete
    passes only."""
    rounds = [r for r in raw["rounds"] if r["complete"]]
    whole = {r["round"] for r in rounds}
    lat = [o["wallNs"] / 1e6 for o in raw["ops"] if o["round"] in whole]

    def per_pass(field, scale=1):
        return statistics.median(r[field] for r in rounds) / scale
    values = {
        "setup_s": raw["setup"]["first_timed_s"],
        "pass_jobs": per_pass("jobs"),
        "pass_shuffle_mb": per_pass("shuffle_bytes", 2**20),
        "heap_mb": raw["heap_mb"]}
    notes = {"wall_s": per_pass("wall_ns", 1e9), "p50_ms": benchlib.percentile(lat, 50),
             "latency_samples": len(lat), "passes": len(whole),
             "cpu_s": per_pass("cpu_ns", 1e9), "pass_tasks": per_pass("tasks"),
             "peak_rss_mb": raw["peak_rss_mb"]}
    return values, notes


def per_layer(raw):
    m = benchlib.layer_metrics(raw, raw["env"]["cores"])
    m["trace.wall_s"] = end_to_end(raw)[1]["wall_s"]
    cov = [benchlib.op_coverage(o) for o in raw["ops"] if not o["error"]]
    m["trace.coverage_min"] = min(cov) if cov else 1.0
    if m["trace.coverage_min"] < COVERAGE_TOLERANCE:
        log(f"span coverage {m['trace.coverage_min']:.4f} is below {COVERAGE_TOLERANCE}: "
            "a query's wall is not accounted for by its build, plan and exec spans")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", action="store_true")
    args = ap.parse_args()
    classpath = build()
    if args.calibrate:
        import calibrate
        sys.exit(calibrate.calibrate(classpath, DATA, BUILD / "runs" / f"calibrate-{os.getpid()}"))
    if not args.workload:
        fail("--workload is required")

    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        plan = make_plan(args.workload, args.seed, args.seconds, args.trace, work)
        raw = run_harness(classpath, plan, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failures = check(raw)
    for f in failures[:20]:
        log(f"FAILED {f}")
    if args.trace:
        values = per_layer(raw)
    else:
        values, notes = end_to_end(raw)
        raw["env"].update(notes)
    raw["env"].update(code=code_id(), workload=args.workload, seed=args.seed)
    print(json.dumps({"env": raw["env"]}, sort_keys=True))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": benchlib.unit_of(k)} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
