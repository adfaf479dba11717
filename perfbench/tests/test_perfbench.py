"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The smoke test runs every workload end to end on the `smoke` profile of
workloads.json (tiny corpus, 4 selectors, 2 keys): build, input
generation, the JVM harness, the digest and oracle checks, and the metric
plumbing of the traced output and of the run record. About 30 s per
workload after the first build.
"""
import json
import re
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
TEST_WORK = BENCH / ".work" / "tests"
sys.path.insert(0, str(BENCH))

import inputs  # noqa: E402

WORKLOADS = ["filter-fanout", "filter-pipeline", "batch-keys"]


def smoke_consts():
    return json.loads((BENCH / "workloads.json").read_text())["smoke"]


def run_bench(workload, trace, cwd=ROOT, script=BENCH / "run.py"):
    return subprocess.run([sys.executable, str(script), "--workload", workload, "--seed", "7",
                           "--seconds", "2", "--trace", str(trace), "--profile", "smoke"],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


class SeedTest(unittest.TestCase):
    """The same seed gives the same inputs; another seed gives other ones."""

    def inputs_digest(self, workload, seed):
        d = Path(tempfile.mkdtemp(dir=TEST_WORK))
        inputs.prepare(workload, seed, 2, smoke_consts()[workload], d)
        return inputs.digest(d)

    def test_seed_fixes_inputs(self):
        shutil.rmtree(TEST_WORK, ignore_errors=True)
        TEST_WORK.mkdir(parents=True)
        try:
            for w in WORKLOADS:
                a, b, c = self.inputs_digest(w, 1), self.inputs_digest(w, 1), self.inputs_digest(w, 2)
                self.assertEqual(a, b, w)
                self.assertNotEqual(a, c, w)
        finally:
            shutil.rmtree(TEST_WORK, ignore_errors=True)

    def test_seed_fixes_selectors(self):
        self.assertEqual(inputs.selectors(1, 64), inputs.selectors(1, 64))
        self.assertNotEqual(inputs.selectors(1, 64), inputs.selectors(2, 64))

    def test_selectors_reference_two_bag_keys(self):
        for _, sel in inputs.selectors(3, 64):
            self.assertEqual(len(set(re.findall(r"props\.(\w+)", sel))), 2, sel)
            self.assertEqual(sel.count("props."), 2, sel)
            self.assertIsNone(re.search(r"props\.\w+ BETWEEN", sel), sel)


class SmokeTest(unittest.TestCase):
    """Every workload end to end at smoke size."""

    def test_workloads(self):
        """One traced run per workload: the last line carries every
        per-layer metric, and the run's record every end-to-end one."""
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = run_bench(w, 1)
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                last = json.loads(r.stdout.strip().splitlines()[-1])
                self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
                self.assertTrue(last["correct"], r.stdout[-3000:])
                self.assertEqual(last["failed"], 0)
                self.assertGreaterEqual(last["attempted"], 1)
                self.assertEqual(sorted(last["metrics"]), sorted(m["name"] for m in bench["per_layer"]))
                rec = json.loads((BENCH / ".work" / "records" / f"{w}-seed7-trace1.json").read_text())
                for m in bench["end_to_end"]:
                    self.assertGreater(rec["end_to_end"][m["name"]]["value"], 0, m["name"])
                if w != "batch-keys":
                    probes = rec["per_layer"]["selector.json_probes"]
                    want = 2 * smoke_consts()[w]["selectors"] if w == "filter-fanout" else 1
                    self.assertEqual(probes, want)
                if w == "filter-pipeline":  # its batch phase enters the artifact and storage layers
                    self.assertGreaterEqual(last["metrics"]["artifact.catalog_tables_built"]["value"], 1)
                    self.assertGreater(last["metrics"]["storage.retained_bytes"]["value"], 0)

    def test_refuses_without_program(self):
        lone = TEST_WORK / "lone"
        shutil.rmtree(lone, ignore_errors=True)
        shutil.copytree(BENCH, lone / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", lone / "BENCHMARK.json")
        try:
            r = run_bench("filter-fanout", 0, cwd=lone, script=lone / "perfbench" / "run.py")
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(lone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
