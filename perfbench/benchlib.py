"""Pure logic of the benchmark: seeded plans, percentiles, spans and
metrics. Nothing here starts a process or touches the file system, so
`perfbench/tests` can check all of it quickly."""
import math
import random
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

LAYERS = ["sources", "dwd", "dwm", "dws", "ads", "operators", "sinks", "llm"]
PHASES = ["build", "plan", "exec"]
E2E_UNITS = {"setup_s": "s", "pass_jobs": "count", "pass_shuffle_mb": "MiB", "heap_mb": "MiB"}
LAYER_FIELDS = ["calls", "build_s", "plan_s", "exec_s", "build_jobs", "jobs",
                "tasks", "one_task_stages", "cpu_s", "busy_frac", "shuffle_mb",
                "spill_mb", "failed"]


def valid_name(name):
    """A metric or workload name: a letter or digit, then at most 63
    letters, digits, `_`, `.` or `-`."""
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def valid_unit(unit):
    return isinstance(unit, str) and UNIT_RE.fullmatch(unit) is not None


def unit_of(name):
    """Unit of an end-to-end or per-layer metric."""
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    field = name.split(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_mb"):
        return "MiB"
    if field.endswith("_pct"):
        return "%"
    if field in ("busy_frac", "coverage_min"):
        return "fraction"
    return "count"


def per_layer_names():
    """Every per-layer metric name, in a fixed order."""
    names = [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    return names + ["env.norm_cpu_s", "trace.wall_s", "trace.coverage_min"]


# -- seeded plans -----------------------------------------------------------

def layered_passes(layers, seed, n_passes):
    """Passes over `layers` (a list of (layer, names)) in layer order,
    each layer's names in an order drawn from `seed`."""
    rng = random.Random(seed)
    passes = []
    for _ in range(n_passes):
        p = []
        for _, names in layers:
            r = list(names)
            rng.shuffle(r)
            p.extend(r)
        passes.append(p)
    return passes


# -- statistics ---------------------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the values at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    # the tolerance keeps a p that falls exactly on a rank from rounding up
    k = max(1, math.ceil(p / 100 * len(xs) - 1e-9))
    return xs[k - 1]


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def self_times(spans):
    """Self time of each span: its duration minus that of its direct
    children. `spans` maps id -> (parent id or None, start, end)."""
    out = {k: end - start for k, (_, start, end) in spans.items()}
    for parent, start, end in spans.values():
        if parent is not None:
            out[parent] -= end - start
    return out


def op_coverage(op):
    """Share of an operation's wall that its build, plan and exec phases
    cover; the rest is harness time between the phases."""
    covered = op["buildNs"] + op["planNs"] + op["execNs"]
    spans = {"op": (None, 0, op["wallNs"]), "build": ("op", 0, op["buildNs"]),
             "plan": ("op", 0, op["planNs"]), "exec": ("op", 0, op["execNs"])}
    uncovered = self_times(spans)["op"]
    assert uncovered == op["wallNs"] - covered
    return covered / op["wallNs"] if op["wallNs"] > 0 else 0.0


# -- metrics ------------------------------------------------------------------

def layer_metrics(raw, cores):
    """Per-layer metrics of a traced run from the harness's raw output."""
    spans = raw.get("spans", {})
    traced = [o for o in raw["ops"] if o["traced"]]
    m = {}
    for layer in LAYERS:
        ops = [o for o in traced if o["layer"] == layer]
        c = {ph: spans.get(f"{layer}/{ph}", {}) for ph in PHASES}

        def total(field):
            return sum(c[ph].get(field, 0) for ph in PHASES)
        calls = len(ops)
        build_s = sum(o["buildNs"] for o in ops) / 1e9
        plan_s = sum(o["planNs"] for o in ops) / 1e9
        exec_s = sum(o["execNs"] for o in ops) / 1e9
        cpu_s = total("cpu_ns") / 1e9
        m.update({
            f"{layer}.calls": calls,
            f"{layer}.build_s": build_s,
            f"{layer}.plan_s": plan_s,
            f"{layer}.exec_s": exec_s,
            f"{layer}.build_jobs": c["build"].get("jobs", 0),
            f"{layer}.jobs": total("jobs"),
            f"{layer}.tasks": total("tasks"),
            f"{layer}.one_task_stages": total("one_task_stages"),
            f"{layer}.cpu_s": cpu_s,
            f"{layer}.busy_frac": cpu_s / (exec_s * cores) if exec_s > 0 else 0.0,
            f"{layer}.shuffle_mb": total("shuffle_bytes") / 2**20,
            f"{layer}.spill_mb": total("spill_bytes") / 2**20,
            # failed operations and failed (retried) task attempts
            f"{layer}.failed": sum(1 for o in ops if o["error"]) + total("failed_tasks"),
        })
    m.update({
        "env.norm_cpu_s": raw["env"]["norm_cpu_s_start"],
    })
    return m
