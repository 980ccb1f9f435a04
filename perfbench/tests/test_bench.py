"""Self-check of the benchmark harness: every workload once on an
sf0.001-derived input, traced and untraced.

Run from the root of a checkout (a few minutes; builds on first use):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import inputs  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
SMALL = str(inputs.default_source("sf0.001"))


def bench(workload, trace, *extra, seed=5, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def result(p):
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    return p.stdout, json.loads(p.stdout.strip().splitlines()[-1])


def round_counts(stdout):
    """{metric: [value per traced round]} from the traced-run summary."""
    counts = {}
    for ln in stdout.splitlines():
        if "traced round" in ln and "counts" in ln:
            for kv in ln.split("counts ", 1)[1].split():
                k, v = kv.split("=")
                counts.setdefault(k, []).append(float(v))
    return counts


class BenchmarkSelfCheck(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        (ROOT / ".bench_build").mkdir(exist_ok=True)

    def assert_metrics(self, out, declared):
        self.assertEqual(set(out["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = out["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"})
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))

    def assert_repeats(self, stdout):
        counts = round_counts(stdout)
        self.assertEqual(set(counts), set(run.REPEATABLE))
        for k, vals in counts.items():
            self.assertGreaterEqual(len(vals), 2, k)
            self.assertEqual(len(set(vals)), 1, f"{k} differs between rounds: {vals}")

    def test_declared_metrics_match_the_harness(self):
        self.assertEqual([(m["name"], m["unit"]) for m in BENCH["end_to_end"]], run.END_TO_END)
        import layers
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]],
                         layers.METRICS)

    def test_cva_spine(self):
        stdout, out = result(bench("cva_spine", 0, "--source", SMALL))
        self.assertTrue(out["correct"], stdout)
        self.assert_metrics(out, BENCH["end_to_end"])
        for name in dict(run.END_TO_END):
            self.assertIn(f"[perfbench] {name} = ", stdout)
        stdout, out = result(bench("cva_spine", 1, "--source", SMALL))
        self.assertTrue(out["correct"], stdout)
        self.assert_metrics(out, BENCH["per_layer"])
        self.assert_repeats(stdout)
        self.assertGreater(out["metrics"]["spark.jobs"]["value"], 0)

    def test_cdc_fold(self):
        stdout, out = result(bench("cdc_fold", 0, "--source", SMALL))
        self.assertTrue(out["correct"], stdout)
        self.assert_metrics(out, BENCH["end_to_end"])
        stdout, out = result(bench("cdc_fold", 1, "--source", SMALL))
        self.assertTrue(out["correct"], stdout)
        self.assert_metrics(out, BENCH["per_layer"])
        self.assert_repeats(stdout)
        self.assertGreater(out["metrics"]["state.fold_jobs"]["value"], 0)
        self.assertGreater(out["metrics"]["streaming.batches"]["value"], 0)

    def test_inputs_follow_the_seed(self):
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as tmp:
            tmp = Path(tmp)
            src = Path(SMALL)
            a = inputs.derive(src, tmp / "a", 1)
            b = inputs.derive(src, tmp / "b", 1)
            c = inputs.derive(src, tmp / "c", 2)
            self.assertEqual(a, b)
            for t in inputs.TABLES:
                self.assertEqual((tmp / "a" / f"{t}.parquet").read_bytes(),
                                 (tmp / "b" / f"{t}.parquet").read_bytes(), t)
            self.assertNotEqual((tmp / "a" / "orders.parquet").read_bytes(),
                                (tmp / "c" / "orders.parquet").read_bytes())
            self.assertNotEqual(a["lineitem"], c["lineitem"])

    def test_refuses_a_directory_without_the_engine(self):
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as tmp:
            bare = Path(tmp)
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(HERE, bare / "perfbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = bench("cva_spine", 0, cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip().endswith("}"))


if __name__ == "__main__":
    unittest.main()
