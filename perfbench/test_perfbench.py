"""Self-test of the benchmark command.

    python3 -m unittest perfbench/test_perfbench.py

Runs every workload for a few seconds, untraced and traced, and checks
the output contract; then checks that the command fails without a
result where the program's sources are missing. The checks themselves
are tested against perturbed expected values in
src/test/scala/graft/perfbench/ChecksSpec.scala.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd, workload, trace, seconds=3):
    cmd = [sys.executable if c == "python3" else c for c in SPEC["command"]]
    cmd += ["--workload", workload, "--seed", "7", "--seconds", str(seconds),
            "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


class OutputContract(unittest.TestCase):

    def check(self, workload, trace):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.rstrip("\n").split("\n")
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = last["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(any(l.startswith(m["name"] + " = ") for l in lines[:-1]),
                            f"{m['name']} is not printed by name")
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        self.assertTrue(lines[0].startswith("stamp "))

    def test_every_workload_untraced_and_traced(self):
        # flood is runnable though BENCHMARK.json does not list it
        for w in [w["name"] for w in SPEC["workloads"]] + ["flood"]:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)


class FailsWithoutSources(unittest.TestCase):

    def test_benchmark_alone_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            for path in SPEC["paths"]:
                shutil.copytree(ROOT / path, Path(d) / path,
                                ignore=shutil.ignore_patterns("target"))
            p = run(d, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
