"""Tests of the benchmark itself.

Run from the repository root:  python3 -m unittest perfbench/test_perfbench.py

They build the harness if needed and start a few short JVMs (about two
minutes in all).
"""
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def last_json_line(text):
    lines = [line for line in text.splitlines() if line.startswith("{")]
    return json.loads(lines[-1])


class HarnessSelfTest(unittest.TestCase):
    """Generator determinism, tokenizer agreement and job parity, checked in one JVM."""

    @classmethod
    def setUpClass(cls):
        build.build()
        work = ROOT / ".bench_build" / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        try:
            p = subprocess.run(run.jvm_options(work) + ["perfbench.SelfTest", str(work), "2"],
                               capture_output=True, text=True, timeout=300, cwd=ROOT)
            if p.returncode != 0:
                raise AssertionError(p.stdout[-3000:] + p.stderr[-3000:])
            cls.result = last_json_line(p.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_same_seed_gives_identical_bytes(self):
        self.assertTrue(self.result["same_seed_identical"])

    def test_other_seed_gives_other_bytes(self):
        self.assertTrue(self.result["other_seed_differs"])

    def test_golden_tokenizer_agrees_with_word_count_mapper(self):
        self.assertGreater(self.result["tokenizer_lines"], 12)
        self.assertEqual(self.result["tokenizer_disagreements"], [])

    def test_generator_counts_equal_golden_tokenizer_counts(self):
        self.assertTrue(self.result["golden_matches_generator"])

    def test_quantiles_match_python_statistics(self):
        want = statistics.quantiles(self.result["quantile_sample"], n=10)
        for got, w in zip(self.result["quantile_deciles"], want):
            self.assertAlmostEqual(got, w)

    def test_traced_pass_submits_the_same_jobs(self):
        self.assertGreater(self.result["untraced_pass_jobs"], 0)
        self.assertEqual(self.result["traced_pass_jobs"], self.result["untraced_pass_jobs"])


class MetricNames(unittest.TestCase):
    """Every metric a run emits is named in BENCHMARK.json, and all of them are emitted."""

    def run_bench(self, trace):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "wordcount",
                            "--seed", "3", "--seconds", "1", "--trace", str(trace)],
                           capture_output=True, text=True, timeout=300, cwd=ROOT)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return last_json_line(p.stdout)

    def test_untraced_run_emits_the_end_to_end_metrics(self):
        r = self.run_bench(0)
        self.assertTrue(r["correct"])
        want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, want)

    def test_traced_run_emits_the_per_layer_metrics(self):
        r = self.run_bench(1)
        self.assertTrue(r["correct"])
        want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, want)


class RefusesOutsideTheRepository(unittest.TestCase):
    def test_exits_nonzero_without_printing_a_result(self):
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "wordcount",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               capture_output=True, text=True, timeout=120, cwd=d)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


class CompareVerdicts(unittest.TestCase):
    parent = {s: 10.0 + 0.1 * (s % 3) for s in range(10)}

    def test_clear_win_is_better(self):
        change = {s: v * 0.8 for s, v in self.parent.items()}
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[0], "better")

    def test_clear_loss_is_worse(self):
        change = {s: v * 1.3 for s, v in self.parent.items()}
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[0], "worse")

    def test_noise_within_bound_is_same(self):
        change = {s: self.parent[(s + 1) % 10] for s in self.parent}
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[0], "same")

    def test_wide_spread_is_unresolved(self):
        wide = {s: 10.0 * (1 + (s % 2)) for s in range(10)}
        change = {s: wide[(s + 1) % 10] for s in wide}
        self.assertEqual(compare.verdict(wide, change, "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
