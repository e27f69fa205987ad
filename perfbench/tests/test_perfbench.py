"""The benchmark's own tests, at tiny size (sf0.001 fixtures, a few
thousand events, a handful of commits).

    python3 -m unittest discover -s perfbench/tests

Each test starts the benchmark JVM, so the suite takes a few minutes.
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SCRATCH = ROOT / ".bench_build" / "perfbench" / "test"
sys.path.insert(0, str(HERE))
import choose_keys  # noqa: E402
from run import JVM_BUDGET_S  # noqa: E402


def run(workload, trace=0, *extra):
    """(result line, standard error, record directory) of one tiny run."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"run.py exited {proc.returncode}: {proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stderr, ROOT / json.loads(lines[-2])["record"]


class KeySample(unittest.TestCase):
    def test_batch_ops_lists_the_chosen_sample(self):
        families = json.loads(choose_keys.PROFILE.read_text())["families"]
        want = {}
        for fam, key in choose_keys.choose(families):
            want.setdefault(fam, []).append(key)
        scala = (HERE / "src/main/scala/perfbench/BatchOps.scala").read_text()
        got = {fam: re.findall(r'"(q_\w+)"', keys)
               for fam, keys in re.findall(r'"(\w+)" -> Seq\(([^)]*)\)', scala)}
        self.assertEqual(got, want)
        for key in choose_keys.FORCED:
            self.assertIn(key, [k for ks in got.values() for k in ks])


class MetricsPrinted(unittest.TestCase):
    def check(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_metrics_of_every_workload(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                result, _, _ = run(w["name"])
                self.check(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_per_layer_metrics_of_a_traced_run(self):
        result, _, record = run("streaming", 1)
        self.check(result, SPEC["per_layer"])
        values = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertGreater(values["txlog.upsert_ms"], 0)
        self.assertGreater(values["spark.jobs"], 0)
        self.assertTrue((record / "spans.jsonl").read_text().strip())


class FailuresReported(unittest.TestCase):
    def test_corrupted_expected_row_count(self):
        SCRATCH.mkdir(parents=True, exist_ok=True)
        lines = (HERE / "expected" / "sf0.001.tsv").read_text().splitlines()
        key = "q_agg_histogram"
        bad = [f"{key}\t{int(l.split(chr(9))[1]) + 1}\toracle" if l.startswith(key + "\t") else l
               for l in lines]
        self.assertNotEqual(bad, lines)
        path = SCRATCH / "corrupted.tsv"
        path.write_text("\n".join(bad) + "\n")
        result, err, _ = run("batch_ops", 0, "--expected", str(path))
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn(key, err)

    def test_dropped_micro_batch(self):
        result, err, _ = run("streaming", 0, "--inject", "drop_batch")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("matches_batch=false", err)

    def test_aborted_run_reads_worst_not_zero(self):
        result, err, _ = run("streaming", 0, "--inject", "abort")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("injected abort", err)
        for m in SPEC["end_to_end"]:
            value = result["metrics"][m["name"]]["value"]
            self.assertGreater(value, 0, m["name"])
            if m["name"] != "setup_s" and m["better"] == "lower":
                scale = {"s": 1.0, "ms": 1e3}[m["unit"]]
                self.assertGreaterEqual(value, JVM_BUDGET_S * scale, m["name"])


if __name__ == "__main__":
    unittest.main()
