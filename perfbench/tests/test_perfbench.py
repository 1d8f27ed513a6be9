"""Self-tests of the benchmark. They build and run it, so they take a few
minutes:

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*args):
    r = subprocess.run([sys.executable, RUN, *args], cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {r.returncode}:\n{r.stdout[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class Inputs(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        rows = run("--digest-seeds", "11,11,12")
        by = {}
        for r in rows:
            by.setdefault(r["workload"], []).append((r["seed"], r["digest"]))
        self.assertEqual(sorted(by), sorted(WORKLOADS))
        for w, ds in by.items():
            (s1, d1), (s2, d2), (s3, d3) = ds
            self.assertEqual((s1, s2, s3), (11, 11, 12))
            self.assertEqual(d1, d2, f"{w}: seed 11 gave two digests")
            self.assertNotEqual(d1, d3, f"{w}: seeds 11 and 12 gave one digest")


class Runs(unittest.TestCase):
    """One untraced and one traced run per workload."""

    def check_result(self, res, section):
        want = [(m["name"], m["unit"]) for m in SPEC[section]]
        self.assertEqual([(n, m["unit"]) for n, m in res["metrics"].items()], want)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)

    def test_workloads(self):
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=0):
                res = run("--workload", w, "--seed", "21", "--seconds", str(SPEC["run_seconds"]),
                          "--trace", "0")
                self.check_result(res, "end_to_end")
                for n, m in res["metrics"].items():
                    self.assertGreater(m["value"], 0, n)
            with self.subTest(workload=w, trace=1):
                res = run("--workload", w, "--seed", "21", "--seconds", str(SPEC["run_seconds"]),
                          "--trace", "1")
                self.check_result(res, "per_layer")
                m = {n: v["value"] for n, v in res["metrics"].items()}
                self.assertEqual(m["error_rate"], 0)
                # layer self times add up to the traced job time within ~10%
                self.assertAlmostEqual(m["trace.self_sum_ratio"], 1.0, delta=0.1)


if __name__ == "__main__":
    unittest.main()
