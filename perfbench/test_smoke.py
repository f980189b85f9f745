"""Smoke test of the benchmark on tiny inputs (the sf0.001 retail scale).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

It runs every workload with tracing off and on, and checks that each metric
BENCHMARK.json names is emitted with its unit, that every per-layer metric is
exercised by some workload, that spans nest, and that a run leaves no
graft_*_idx_* directory in the system temp directory and no work directory
in the checkout.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = ["python3", "perfbench/run.py"]


def index_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "graft_*_idx_*")))


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)
        cls.before = index_dirs()
        cls.runs = {}
        for w in (x["name"] for x in cls.spec["workloads"]):
            for trace in (0, 1):
                out = subprocess.run(
                    RUN + ["--workload", w, "--seed", "7", "--seconds", "2",
                           "--trace", str(trace), "--smoke", "1"],
                    cwd=ROOT, capture_output=True, text=True, timeout=600)
                cls.runs[w, trace] = out

    def lines(self, key):
        out = self.runs[key]
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        context, result = [json.loads(l) for l in out.stdout.strip().splitlines()[-2:]]
        return context["context"], result

    def test_result_line(self):
        for key in self.runs:
            _, result = self.lines(key)
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(result["correct"], key)
            self.assertGreaterEqual(result["attempted"], 1)
            self.assertEqual(result["failed"], 0)

    def test_every_metric_with_its_unit(self):
        for (w, trace) in self.runs:
            _, result = self.lines((w, trace))
            want = self.spec["per_layer" if trace else "end_to_end"]
            self.assertEqual(list(result["metrics"]), [m["name"] for m in want])
            for m in want:
                got = result["metrics"][m["name"]]
                self.assertEqual(got["unit"], m["unit"], m["name"])
                self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                for name, got in result["metrics"].items():
                    self.assertGreater(got["value"], 0, (w, name))

    def test_every_layer_exercised(self):
        unexercised = set.intersection(*(
            set(self.lines((w["name"], 1))[0]["not_exercised"]) for w in self.spec["workloads"]))
        self.assertEqual(unexercised, set())

    def test_spans_nest(self):
        for w in self.spec["workloads"]:
            context, _ = self.lines((w["name"], 1))
            with open(os.path.join(ROOT, context["spans"])) as fh:
                spans = {s["id"]: s for s in map(json.loads, fh)}
            self.assertTrue(spans)
            for s in spans.values():
                self.assertLessEqual(s["start_ns"], s["end_ns"])
                self.assertGreaterEqual(s["self_s"], -1e-6, s)
                if s["parent"] >= 0:
                    p = spans[s["parent"]]
                    self.assertLessEqual(p["start_ns"], s["start_ns"])
                    self.assertGreaterEqual(p["end_ns"], s["end_ns"])
                    self.assertEqual(p["op"], s["op"])

    def test_no_state_left_behind(self):
        self.assertEqual(index_dirs() - self.before, set())
        self.assertEqual(glob.glob(os.path.join(ROOT, ".perfbench", "run-*")), [])

    def test_refuses_outside_a_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            out = subprocess.run(RUN + ["--workload", self.spec["workloads"][0]["name"],
                                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout, "")


if __name__ == "__main__":
    sys.exit(unittest.main())
