"""Tests of the benchmark itself.

    python3 -m unittest discover -s graftbench -p 'test_*.py'      # from the repo root
    GRAFTBENCH_SMOKE=1 python3 -m unittest ...                     # also the ~70 s smoke run

The generator and reference-model checks live in the Scala self-test
(graftbench/src/SelfTest.scala); this file runs it, and checks that run.py
accepts only the metric names BENCHMARK.json declares.
"""
import contextlib
import io
import json
import os
import re
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run(*args, timeout=600):
    return subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=ROOT,
                          capture_output=True, text=True, timeout=timeout)


class BenchmarkSpecTest(unittest.TestCase):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_metric_names_and_units_are_well_formed(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        names += [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for k in ("end_to_end", "per_layer"):
            for m in self.spec[k]:
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("lower", "higher"))

    def test_end_to_end_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))
        for m in e2e.values():
            self.assertLessEqual(m["bound"], 0.25)

    def test_command_stays_inside_paths(self):
        self.assertEqual(self.spec["command"][1].split("/")[0], self.spec["paths"][0])


class ReportGateTest(unittest.TestCase):
    """run.py's report() is the one check that the emitted metric names are
    well formed and exactly the ones BENCHMARK.json declares."""

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    @staticmethod
    def result(figures, trace):
        meta = {"commit": "c", "nproc": 4, "spark_master": "local[4]", "jvm_flags": [], "ops": 1,
                "warmup_ops": 0, "setup_reps": 1, "measured_s": 1.0, "steal_s": 0.0,
                "cpu_pressure_s": 0.0, "setup_s_each": [1.0]}
        return {"workload": "query", "seed": 1, "attempted": 1, "failed": 0, "errors": [],
                "detail": {}, "meta": meta, "self_ms": {},
                "end_to_end": {} if trace else figures, "per_layer": figures if trace else {}}

    def gate(self, figures, trace):
        sys.path.insert(0, str(HERE))
        import run as bench
        a = type("Args", (), {"trace": trace})()
        with contextlib.redirect_stdout(io.StringIO()) as out, contextlib.redirect_stderr(io.StringIO()):
            code = bench.report(a, self.result(figures, trace))
        return code, out.getvalue()

    def test_declared_metrics_pass(self):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            figures = {m["name"]: 1.5 for m in self.spec[kind]}
            code, out = self.gate(figures, trace)
            self.assertEqual(code, 0, kind)
            last = json.loads(out.strip().splitlines()[-1])
            self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(last["metrics"]), set(figures))

    def test_undeclared_missing_or_malformed_metrics_fail(self):
        declared = {m["name"]: 1.5 for m in self.spec["end_to_end"]}
        self.assertEqual(self.gate({**declared, "not_declared": 1.0}, 0)[0], 1)
        self.assertEqual(self.gate({**declared, "bad name!": 1.0}, 0)[0], 1)
        self.assertEqual(self.gate(dict(list(declared.items())[1:]), 0)[0], 1)


class SelfTest(unittest.TestCase):
    """Generator determinism per seed and the reference models on tiny inputs."""

    @classmethod
    def setUpClass(cls):
        cls.out = run("--selftest")

    def test_selftest_passes(self):
        self.assertEqual(self.out.returncode, 0, self.out.stdout + self.out.stderr)
        self.assertNotIn("FAIL", self.out.stdout)


@unittest.skipUnless(os.environ.get("GRAFTBENCH_SMOKE"), "set GRAFTBENCH_SMOKE=1 to run the smoke run")
class SmokeTest(unittest.TestCase):
    def test_smoke_checks_every_workload(self):
        out = run("--smoke")
        self.assertEqual(out.returncode, 0, out.stdout[-2000:] + out.stderr[-2000:])
        for w in ("firehose", "query", "ingest"):
            self.assertIn(f"[smoke] {w} op 3", out.stdout)
        self.assertNotIn("FAILED", out.stdout)


if __name__ == "__main__":
    unittest.main()
