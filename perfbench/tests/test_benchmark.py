"""Self-tests of the benchmark. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests -v

They run the real benchmark (several minutes in all): counts of a traced
run must repeat exactly, and a wrong stored expectation must make a run
report failures.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(workload, seed, trace, cwd=ROOT, seconds=5):
    out = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=cwd, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def op_counts(workload, seed):
    with open(os.path.join(run.build_dir(), "trace", f"{workload}-seed{seed}.json")) as f:
        trace = json.load(f)
    return {o["id"]: {k: o["spark"][k] for k in ("jobs", "stages", "tasks")}
            for o in trace["ops"] if o["traced"]}


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(spec["command"], ["python3", "perfbench/run.py"])
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


class TracedCountsRepeatTest(unittest.TestCase):
    def test_serve_and_ingest_counts_repeat_exactly(self):
        for workload in ("online",):
            first = bench(workload, 5, 1)
            counts = op_counts(workload, 5)
            second = bench(workload, 5, 1)
            self.assertTrue(first["correct"] and second["correct"])
            self.assertTrue(counts)
            self.assertEqual(counts, op_counts(workload, 5), workload)
            for k in ("jobs_per_op", "stages_per_op", "tasks_per_op"):
                self.assertEqual(first["metrics"][k], second["metrics"][k], (workload, k))


class WrongExpectationFailsTest(unittest.TestCase):
    def test_altered_expected_output_is_reported(self):
        # a private checkout: the engine sources plus a copy of the
        # benchmark whose stored analytics expectation is altered
        root = os.path.join(run.build_dir(), "selftest")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(os.path.join(ROOT, "src", "main"), os.path.join(root, "src", "main"))
        shutil.copytree(HERE, os.path.join(root, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        path = os.path.join(root, "perfbench", "expected", "analytics-sf0.01.json")
        with open(path) as f:
            expected = json.load(f)
        expected["q_rsi"]["hash"] = "0" * 64
        with open(path, "w") as f:
            json.dump(expected, f)
        env = dict(os.environ)
        env.pop("CARGO_TARGET_DIR", None)
        out = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                              "--workload", "batch", "--seed", "1", "--seconds", "5",
                              "--trace", "0"], cwd=root, env=env, capture_output=True,
                             text=True, timeout=900)
        shutil.rmtree(root, ignore_errors=True)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)


if __name__ == "__main__":
    unittest.main()
