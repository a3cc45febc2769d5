"""Checks of the benchmark wrapper that need no JVM:

    python3 -m unittest discover -s perfbench/tests
"""
import io
import json
import sys
import unittest
from contextlib import redirect_stdout
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))
import run  # noqa: E402


def fake_result(traced, cpu_s=9.0):
    ops = [{"name": f"q{i}", "pass": p, "traced": traced, "s": 0.1 * (i + 1),
            "rows": 3, "error": None} for p in (0, 1, 2, -2) for i in range(12)]
    return {
        "host": {"cpus": 4, "calib_s": 0.9},
        "session_s": 4.0, "setup_s": [2.0, 2.5, 2.2],
        "scaleup_s": [1.0, 1.2, 1.1],
        "warmup_s": 3.0,
        "passes": [{"s": 5.0 + p, "cpu_s": cpu_s + p, "jit_cpu_s": float(p), "traced": traced}
                   for p in range(3)],
        "ops": ops, "checks": [],
        "layers": {"operators.build_s": 0.5, "spark.jobs": 10.0} if traced else {},
        "rss_peak_mb": 900.0,
    }


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())

    def test_benchmark_json_matches_the_metric_tables(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))

    def test_every_metric_is_reported_with_its_unit(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = run.metrics(fake_result(bool(trace)), trace, fake_result(False))
            want = {m["name"]: m["unit"] for m in self.spec[key]}
            self.assertEqual(set(got), set(want))
            for name, m in got.items():
                self.assertEqual(m["unit"], want[name], name)
                self.assertIsInstance(m["value"], float, name)

    def test_end_to_end_values(self):
        res = fake_result(False)
        m = run.metrics(res, 0)
        self.assertAlmostEqual(m["setup_s"]["value"], 4.0 + 2.2)
        self.assertAlmostEqual(m["pass_cpu_s"]["value"], 9.0)
        # the median pass, each less its JIT compiler CPU
        res["passes"] = [{"s": 1.0, "cpu_s": c, "jit_cpu_s": j}
                         for c, j in ((30.0, 20.0), (12.0, 4.0), (9.0, 2.5))]
        self.assertAlmostEqual(run.metrics(res, 0)["pass_cpu_s"]["value"], 8.0)

    def test_per_layer_values(self):
        m = run.metrics(fake_result(True, cpu_s=9.9), 1, fake_result(False))
        self.assertAlmostEqual(m["bench.trace_overhead_frac"]["value"], 0.1)
        self.assertAlmostEqual(m["scaleup.build_s"]["value"], 1.1)
        self.assertAlmostEqual(m["bench.calib_s"]["value"], 0.9)
        self.assertEqual(m["etl.read_s"]["value"], 0.0)  # layer not run

    def test_strict_compare_rules(self):
        import pandas as pd
        a = pd.DataFrame({"b": [2.0, None], "a": ["x", "y"]})
        self.assertIsNone(run.frames_equal(run.norm(a), run.norm(a.iloc[::-1])))
        c = pd.DataFrame({"b": [2.0 + 1e-12, None], "a": ["x", "y"]})
        self.assertIn("col b", run.frames_equal(run.norm(a), run.norm(c)))

    def test_missing_engine_sources_exit_nonzero_without_result(self):
        old = run.ENGINE_SRC
        run.ENGINE_SRC = BENCH / "does-not-exist"
        argv = sys.argv
        sys.argv = ["run.py", "--workload", "aspep_etl",
                    "--seed", "1", "--seconds", "1"]
        buf = io.StringIO()
        try:
            with redirect_stdout(buf):
                rc = run.main()
        finally:
            run.ENGINE_SRC, sys.argv = old, argv
        self.assertNotEqual(rc, 0)
        self.assertEqual(buf.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
