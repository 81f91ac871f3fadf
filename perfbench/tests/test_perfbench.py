"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Runs every workload at tiny size in both modes and checks that each
metric BENCHMARK.json names is printed with its unit; plants output
defects the checks must catch; and checks that the benchmark refuses to
run without the program's sources. Takes a few minutes (one JVM per run).
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, plant="none", cwd=ROOT, seed=7):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--plant", plant]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    return p.returncode, p.stdout, p.stderr


def result(out):
    return json.loads(out.strip().splitlines()[-1])


class TinyRuns(unittest.TestCase):
    def check_metrics(self, workload, trace):
        """Returns the printed metric values by name."""
        code, out, err = run(workload, trace)
        self.assertEqual(code, 0, err[-2000:])
        res = result(out)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], err[-2000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return {k: v["value"] for k, v in res["metrics"].items()}

    def test_cdc_steady(self):
        self.check_metrics("cdc_steady", 0)
        layers = self.check_metrics("cdc_steady", 1)
        # the replica accumulates files, so compaction folds them
        self.assertGreater(layers["compact.runs"], 0)
        self.assertGreater(layers["compact.s"], 0)
        self.assertGreater(layers["merge.files_written"], 0)
        self.assertEqual(layers["q.q07_cdc_merge.warm_s"], 0)

    def test_board_mix(self):
        self.check_metrics("board_mix", 0)
        layers = self.check_metrics("board_mix", 1)
        self.assertGreater(layers["q.q07_cdc_merge.warm_s"], 0)
        self.assertEqual(layers["merge.write_s"], 0)


class PlantedDefects(unittest.TestCase):
    def assert_caught(self, workload, plant):
        code, out, err = run(workload, plant=plant)
        self.assertEqual(code, 0, err[-2000:])
        res = result(out)
        self.assertFalse(res["correct"], f"{plant} in {workload} went unnoticed")
        self.assertGreaterEqual(res["failed"], 1)

    def test_dropped_delete(self):
        self.assert_caught("cdc_steady", "drop_delete")

    def test_stale_row(self):
        self.assert_caught("cdc_steady", "stale_row")

    def test_changed_board_value(self):
        self.assert_caught("board_mix", "board_value")


class Layout(unittest.TestCase):
    def test_refuses_without_program(self):
        bare = ROOT / ".bench_build" / "tests" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        try:
            code, out, _ = run("cdc_steady", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertNotIn('"correct"', out)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
