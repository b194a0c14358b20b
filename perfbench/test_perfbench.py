"""Checks of the benchmark itself: `python3 perfbench/test_perfbench.py`.

- the metric names and units it prints are those in BENCHMARK.json;
- the noop action evaluates a projected UDF column once per row, where
  `count()` prunes it (this one builds the harness and starts Spark);
- the tail-percentile rule leaves at least ten samples beyond its value.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def fake_raw():
    """A harness record: the correctness pass, then a traced and an
    untraced pass, each of two keys."""
    def key(name, traced):
        k = {"key": name, "ok": True, "wall_s": 0.5}
        if traced:
            k.update({"ops.build": 0.1, "plans.plan": 0.05, "exec.action": 0.3,
                      "release_s": 0.01, "eager_jobs": 1, "jobs": 3, "stages": 4,
                      "tasks": 16, "task_run_s": 1.2, "task_cpu_s": 1.0,
                      "gc_s": 0.01, "shuffle_write_mb": 1.0,
                      "shuffle_read_mb": 1.0, "spill_mb": 0.0,
                      "driver_gap_s": 0.02})
        return k

    def pass_(p, traced):
        d = {"pass": p, "traced": traced, "pass_s": 1.0,
             "host": {"steal_jiffies": 0, "load1": 1.0},
             "keys": [key("a", traced), key("b", traced)]}
        if p == 0:
            d["heap_peak_mb"] = 300.0
        if traced:
            d["codegen"] = {"compiles": 3, "compile_s": 0.1, "source_kb": 20.0}
            d["stream"] = {"batches": 2, "input_rows": 10, "state_rows": 5,
                           "plan_s": 0.01, "commit_s": 0.01, "batch_s": 0.1}
            d["peaks"] = {"pinned_rdds": 1, "pinned_mb": 2.0, "entries": 1,
                          "scratch_mb": 3.0}
        return d

    return {"setup_s": [3.0, 2.0, 2.5], "warm_s": [0.1, 0.1, 0.1], "cpus": 4,
            "passes": [pass_(0, False), pass_(1, True), pass_(2, False)]}


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def assertSameMetrics(self, printed, declared):
        self.assertEqual({k: u for k, (_, u) in printed.items()},
                         {m["name"]: m["unit"] for m in declared})

    def test_end_to_end(self):
        e2e, _, _, _ = run.end_to_end(fake_raw(), {})
        self.assertSameMetrics(e2e, self.bench["end_to_end"])

    def test_per_layer(self):
        self.assertSameMetrics(run.per_layer(fake_raw()), self.bench["per_layer"])

    def test_workloads(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]},
                         set(run.load_json("workloads.json")))


class TailRule(unittest.TestCase):
    def test_known_counts(self):
        for n, p in [(11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)]:
            self.assertEqual(run.tail_percentile(n), p, n)

    def test_ten_beyond_and_highest(self):
        for n in range(11, 2000):
            p = run.tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10, n)
            self.assertLess(n - -(-(p + 1) * n // 100), 10, n)

    def test_value(self):
        values = list(range(1, 41))
        self.assertEqual(run.percentile(values, run.tail_percentile(40)), 30)


class NoopMaterializes(unittest.TestCase):
    def test_projected_udf_runs_once_per_row(self):
        cp = run.classpath()
        out = subprocess.run(
            ["java", "-Xmx1g", *run.ADD_OPENS, "-cp", cp, "perfbench.SelfCheck"],
            capture_output=True, text=True, timeout=170, check=True).stdout
        got = dict(f.split("=") for f in out.strip().splitlines()[-1].split())
        self.assertEqual(int(got["materialize"]), int(got["rows"]))
        self.assertLess(int(got["count"]), int(got["rows"]))


if __name__ == "__main__":
    unittest.main()
