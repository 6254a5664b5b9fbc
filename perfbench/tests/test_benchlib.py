"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import statistics
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 100), 100)
        self.assertEqual(benchlib.percentile([7], 90), 7)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 12, 9, 10, 13, 10, 11, 12, 10]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.spread(xs), (q3 - q1) / q2)


class Names(unittest.TestCase):
    def test_valid(self):
        for n in ["setup_s", "p90_ms", "ads.build_s", "env.norm_cpu_s", "a-b.c_d", "9x"]:
            self.assertTrue(benchlib.valid_name(n), n)

    def test_invalid(self):
        for n in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é", None]:
            self.assertFalse(benchlib.valid_name(n), n)

    def test_every_metric_name_and_unit_is_valid_and_unique(self):
        names = list(benchlib.E2E_UNITS) + benchlib.per_layer_names()
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(benchlib.per_layer_names()), 128)
        for n in names:
            self.assertTrue(benchlib.valid_name(n), n)
            self.assertTrue(benchlib.valid_unit(benchlib.unit_of(n)), n)

    def test_benchmark_json_matches_the_code(self):
        meta = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in meta["end_to_end"]], list(benchlib.E2E_UNITS))
        self.assertEqual([m["name"] for m in meta["per_layer"]], benchlib.per_layer_names())
        for m in meta["end_to_end"] + meta["per_layer"]:
            self.assertEqual(m["unit"], benchlib.unit_of(m["name"]), m["name"])
        workloads = json.loads((HERE / "workloads.json").read_text())
        self.assertEqual(sorted(w["name"] for w in meta["workloads"]), sorted(workloads))


class Inputs(unittest.TestCase):
    def test_tables_match_their_recorded_hashes(self):
        data = HERE / "data"
        for line in (data / "SHA256SUMS").read_text().splitlines():
            digest, name = line.split()
            self.assertEqual(hashlib.sha256((data / name).read_bytes()).hexdigest(), digest, name)

    def test_every_workload_query_has_a_checked_fingerprint(self):
        workloads = json.loads((HERE / "workloads.json").read_text())
        refs = json.loads((HERE / "fingerprints.json").read_text())
        for layers in workloads.values():
            for _, names in layers:
                for n in names:
                    self.assertIn(n, refs["queries"])
                    self.assertIn(refs["checked_by"][n], ("oracle", "bound"))


class Spans(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = {"op": (None, 0, 100), "build": ("op", 0, 30), "plan": ("op", 30, 40),
                 "exec": ("op", 40, 95), "job": ("exec", 50, 90)}
        st = benchlib.self_times(spans)
        self.assertEqual(st["op"], 100 - 30 - 10 - 55)
        self.assertEqual(st["exec"], 55 - 40)
        self.assertEqual(st["job"], 40)
        self.assertEqual(sum(st.values()), 100)

    def test_coverage(self):
        op = {"buildNs": 30, "planNs": 10, "execNs": 55, "wallNs": 100}
        self.assertAlmostEqual(benchlib.op_coverage(op), 0.95)


class Determinism(unittest.TestCase):
    def test_pass_order_is_a_function_of_the_seed(self):
        layers = [["dwd", ["b", "a", "c"]], ["dws", ["x", "y"]]]
        self.assertNotEqual(benchlib.layered_passes(layers, 3, 8),
                            benchlib.layered_passes(layers, 4, 8))
        for p in benchlib.layered_passes(layers, 3, 5):
            self.assertEqual(sorted(p[:3]), ["a", "b", "c"])
            self.assertEqual(sorted(p[3:]), ["x", "y"])
        self.assertEqual(benchlib.layered_passes(layers, 3, 5),
                         benchlib.layered_passes(layers, 3, 5))


class Metrics(unittest.TestCase):
    def test_layer_metrics(self):
        def op(name, traced, wall, layer="ads"):
            return {"name": name, "layer": layer, "traced": traced, "error": None,
                    "buildNs": wall // 2, "planNs": wall // 4, "execNs": wall // 4,
                    "wallNs": wall}
        raw = {"ops": [op("a", True, 120), op("a", False, 100), op("b", True, 220),
                       op("b", False, 200)],
               "spans": {"ads/build": {"jobs": 2, "cpu_ns": 1e9},
                         "ads/exec": {"jobs": 3, "tasks": 9, "failed_tasks": 1, "cpu_ns": 1e9}},
               "env": {"norm_cpu_s_start": 1.5}}
        m = benchlib.layer_metrics(raw, cores=4)
        self.assertEqual(set(m), set(benchlib.per_layer_names()) - {
            "trace.wall_s", "trace.coverage_min"})
        self.assertEqual(m["ads.calls"], 2)
        self.assertEqual(m["ads.build_jobs"], 2)
        self.assertEqual(m["ads.jobs"], 5)
        self.assertAlmostEqual(m["ads.cpu_s"], 2.0)
        self.assertAlmostEqual(m["ads.busy_frac"], 2.0 / (85e-9 * 4))
        self.assertEqual(m["ads.failed"], 1)
        self.assertEqual(m["llm.calls"], 0)


class EndToEnd(unittest.TestCase):
    def test_per_pass_metrics_come_from_complete_passes(self):
        import run

        def rnd(i, complete, jobs, mib, wall_s):
            return {"round": i, "complete": complete, "jobs": jobs, "tasks": 2 * jobs,
                    "shuffle_bytes": mib * 2**20, "wall_ns": wall_s * 1e9, "cpu_ns": 1e9}
        raw = {"rounds": [rnd(1, True, 32, 2, 5), rnd(2, True, 32, 2, 7), rnd(3, False, 9, 1, 1)],
               "ops": [{"round": r, "wallNs": ms * 1e6} for r, ms in
                       [(1, 100), (1, 300), (2, 200), (2, 400), (3, 50)]],
               "setup": {"first_timed_s": 30.5}, "heap_mb": 70.0, "peak_rss_mb": 900.0}
        values, notes = run.end_to_end(raw)
        self.assertEqual(list(values), list(benchlib.E2E_UNITS))
        self.assertEqual(values["pass_jobs"], 32)
        self.assertEqual(values["pass_shuffle_mb"], 2)
        self.assertEqual(values["setup_s"], 30.5)
        self.assertEqual(notes["passes"], 2)
        self.assertEqual(notes["wall_s"], 6)
        self.assertEqual(notes["p50_ms"], 200)
        self.assertEqual(notes["latency_samples"], 4)


if __name__ == "__main__":
    unittest.main()
