"""Tests of the benchmark itself (not of the program it measures).

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

They build the program on first use and start short benchmark processes:
three input-generation runs and one traced run per workload, a few minutes
in all on a 4-core machine.
"""
import json
import re
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))
import run as run_py  # noqa: E402
RUN = [sys.executable, str(ROOT / "perfbench" / "run.py")]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def run(*args, cwd=ROOT):
    p = subprocess.run(RUN + list(args), cwd=cwd, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (lines[-1] if lines else ""), p.stderr


class GeneratedInputs(unittest.TestCase):
    def gen(self, seed):
        code, line, err = run("--mode", "gen", "--seed", str(seed))
        self.assertEqual(code, 0, err)
        return json.loads(line)

    def test_one_seed_gives_identical_rows_and_two_seeds_differ(self):
        a, b, c = self.gen(7), self.gen(7), self.gen(8)
        self.assertEqual(a, b)
        # region and nation are fixed reference tables; every other input is seeded
        seeded = [k for k in a if k not in ("crm.region", "crm.nation")]
        self.assertGreater(len(seeded), 8)
        for k in seeded:
            self.assertNotEqual(a[k], c[k], k)


class MetricNames(unittest.TestCase):
    def test_names_are_well_formed_and_unique(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n), n)

    def test_every_layer_metric_is_required_of_some_workload(self):
        # a per-layer metric no workload must produce could silently read 0
        for m in SPEC["per_layer"]:
            self.assertTrue(any(run_py.produces(w["name"], m["name"]) for w in SPEC["workloads"]),
                            m["name"])


class TracedRuns(unittest.TestCase):
    """One short traced run per workload, shared by the tests below."""

    @classmethod
    def setUpClass(cls):
        cls.runs = {}
        for w in [x["name"] for x in SPEC["workloads"]]:
            code, line, err = run("--workload", w, "--seed", "5", "--seconds", "1",
                                  "--trace", "1")
            path = re.search(r"full result in (\S+)", err)
            cls.runs[w] = (code, json.loads(line) if line else None,
                           json.loads(Path(path.group(1)).read_text()) if path else None, err)

    def test_runs_pass_their_output_checks(self):
        for w, (code, summary, _, err) in self.runs.items():
            self.assertEqual(code, 0, f"{w}: {err[-2000:]}")
            self.assertTrue(summary["correct"], w)
            self.assertEqual(summary["failed"], 0, w)

    def test_metric_sets_match_benchmark_json(self):
        layer = {m["name"] for m in SPEC["per_layer"]}
        e2e = {m["name"] for m in SPEC["end_to_end"]}
        for w, (_, summary, full, _) in self.runs.items():
            self.assertEqual(set(summary["metrics"]), layer, w)
            self.assertLessEqual(len(json.dumps(summary, separators=(",", ":"))), 2000, w)
            self.assertLessEqual(e2e, set(full["end_to_end"]), w)
            for m in SPEC["per_layer"]:
                self.assertEqual(summary["metrics"][m["name"]]["unit"], m["unit"])

    def test_every_traced_job_is_attributed_to_exactly_one_span(self):
        for w, (_, _, full, _) in self.runs.items():
            layers = full["per_layer"]
            self.assertGreater(layers["trace.jobs_observed"], 0, w)
            self.assertEqual(layers["trace.jobs_attributed"], layers["trace.jobs_observed"], w)

    def test_no_span_has_negative_self_time(self):
        for w, (_, _, full, _) in self.runs.items():
            self.assertGreaterEqual(full["per_layer"]["trace.min_self_ms"], 0, w)


class LoneBenchmark(unittest.TestCase):
    def test_fails_fast_without_the_program_sources(self):
        lone = ROOT / ".bench_build" / "lone"
        shutil.rmtree(lone, ignore_errors=True)
        lone.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", lone)
        shutil.copytree(ROOT / "perfbench", lone / "perfbench",
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        try:
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=lone, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(lone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
