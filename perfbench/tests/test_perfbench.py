"""The benchmark's own tests. From the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Unit checks (percentiles, failure counting, seed determinism, answer
digests) run in perfbench.SelfTest; the smoke tests run every workload
end to end at the tiny size, traced and untraced, and check the result
line against BENCHMARK.json.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))
import build  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SCRATCH = ROOT / ".bench_build" / "perfbench-tests"


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class SelfTest(unittest.TestCase):
    def test_unit_checks(self):
        build.build()
        proc = build.run_jvm(SCRATCH / "selftest", ["perfbench.SelfTest", str(SCRATCH / "selftest")],
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        out, err = proc.communicate(timeout=300)
        self.assertEqual(proc.returncode, 0, err)
        self.assertIn("selftest ok", out)


class Smoke(unittest.TestCase):
    def result(self, workload, trace):
        p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--size", "tiny")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        return detail, result

    def check_workload(self, workload):
        detail, result = self.result(workload, 0)
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        got = {k: m["unit"] for k, m in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, m in result["metrics"].items():
            self.assertGreater(m["value"], 0, name)
        self.assertEqual(detail["metrics"]["fail_ratio"]["value"], 0)

        _, traced = self.result(workload, 1)
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        got = {k: m["unit"] for k, m in traced["metrics"].items()}
        self.assertEqual(got, want)
        self.assertGreater(traced["metrics"]["spark.jobs"]["value"], 0)

    def test_release_fold(self):
        self.check_workload("release_fold")

    def test_anchored_reads(self):
        self.check_workload("anchored_reads")

    def test_spec_lists_every_workload(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))

    def test_refuses_without_the_repository(self):
        bare = SCRATCH / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench("--workload", "release_fold", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
