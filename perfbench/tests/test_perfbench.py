"""Tests of the benchmark itself.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The end-to-end tests run each workload once with tracing off and once
with tracing on (four to five minutes in all after the first build).
"""
import json
import re
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def run(workload, trace, seconds=1, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "101",
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)


class SpecTest(unittest.TestCase):
    def test_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        names = [w["name"] for w in SPEC["workloads"]]
        names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


class GenTest(unittest.TestCase):
    def test_seeded(self):
        a, b, c = gen.tables(7, 0.01), gen.tables(7, 0.01), gen.tables(8, 0.01)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["documents"].equals(c["documents"]))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


class StandaloneTest(unittest.TestCase):
    def test_fails_without_the_library(self):
        """With only BENCHMARK.json and the benchmark's files, a run exits
        with an error and prints no result."""
        bare = HERE / ".work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        out = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
        shutil.rmtree(bare)
        self.assertNotEqual(out.returncode, 0)
        self.assertEqual(out.stdout.strip(), "")


class WorkloadTest(unittest.TestCase):
    def check(self, workload, trace, seconds=1):
        out = run(workload, trace, seconds)
        self.assertEqual(out.returncode, 0)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        # every named metric is emitted, with its unit
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res

    def check_trace(self, workload, root_name, seconds=1):
        res = self.check(workload, 1, seconds)
        work = HERE / ".work" / f"{workload}-101-1"
        trace = json.loads((work / "trace.json").read_text())
        result = json.loads((work / "result.json").read_text())
        # the listener's per-group sums equal its totals
        self.assertTrue(trace["consistent"])
        self.assertEqual(trace["groups_sum"], trace["totals"])
        # one root span per pass, and nothing else at the root
        roots = [s for s in trace["spans"] if s["parent"] == -1]
        self.assertEqual(len(roots), len(result["pass_s"]))
        self.assertTrue(all(s["name"] == root_name for s in roots))
        self.assertGreater(res["metrics"]["scheduler.jobs"]["value"], 0)
        return result

    def test_curation(self):
        self.check("curation", 0)
        # long enough for a second pass, which must not reuse the first
        # pass's cached loser set: every pass runs the dedup call's full
        # job count (a cached pass runs 2)
        result = self.check_trace("curation", "pass", seconds=20)
        jobs = result["extra"]["dedup_jobs_per_pass"]
        self.assertGreaterEqual(len(jobs), 2)
        self.assertEqual(len(jobs), len(result["pass_s"]))
        self.assertGreaterEqual(min(jobs), 0.9 * max(jobs))
        self.assertGreater(min(jobs), 2)

    def test_analyst_queries(self):
        self.check("analyst_queries", 0)
        self.check_trace("analyst_queries", "sweep")


if __name__ == "__main__":
    unittest.main()
