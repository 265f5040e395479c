#!/usr/bin/env python3
"""Self-test: the benchmark reports failures honestly.

Run from the root of a checkout (takes about two minutes on four cores):

    python3 perfbench/test_run.py

The end-to-end cases run the real benchmark with a fault injected through
run.py's self-test options and check that the fault shows up in `failed`,
stays out of the timing metrics and makes the command exit non-zero.
"""
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(*extra, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script] + list(extra), cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result


def latest_raw(workload, seed):
    files = glob.glob(os.path.join(run.BUILD, "out", "%s-s%d-t0-*.raw.json" % (workload, seed)))
    with open(max(files, key=os.path.getmtime)) as f:
        return json.load(f)


class CheckOps(unittest.TestCase):
    """Output checks, without a JVM."""

    def raw(self, *ops):
        return {"ops": [dict(i=i, name=n, ok=True, err=None, rows=r, digest=d, colors=c)
                        for i, (n, r, d, c) in enumerate(ops)]}

    def test_digest_mismatch_fails_the_op(self):
        ops = run.check_ops(self.raw(("q_a", 3, "x", -1), ("q_b", 2, "y", -1)),
                            {"q_a": {"rows": 3, "digest": "x"}, "q_b": {"rows": 2, "digest": "z"}})
        self.assertEqual([o["ok"] for o in ops], [True, False])

    def test_rows_only_query_still_checks_rows(self):
        ops = run.check_ops(self.raw(("q_a", 3, "x", -1), ("q_a", 4, "x", -1)),
                            {"q_a": {"rows": 3, "digest": None}})
        self.assertEqual([o["ok"] for o in ops], [True, False])

    def test_unrecorded_query_fails(self):
        ops = run.check_ops(self.raw(("q_new", 1, "x", -1)), {})
        self.assertFalse(ops[0]["ok"])

    def test_colors_used_must_repeat(self):
        ops = run.check_ops(self.raw(("coloring", -1, "", 7), ("coloring", -1, "", 8)), {})
        self.assertFalse(any(o["ok"] for o in ops))


class FailureHonesty(unittest.TestCase):
    """The real benchmark with injected faults."""

    def assert_timings_exclude_failures(self, result, raw):
        good = [o["wall_s"] for o in raw["ops"] if o["ok"]]
        m = result["metrics"]
        self.assertAlmostEqual(m["op_p50_s"]["value"], statistics.median(good), places=9)
        self.assertAlmostEqual(m["op_mean_s"]["value"], statistics.mean(good), places=9)

    def test_query_exception(self):
        rc, res = bench("--workload", "queries", "--seed", "901", "--seconds", "1",
                        "--trace", "0", "--break-op", "3")
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        raw = latest_raw("queries", 901)
        self.assertEqual(res["attempted"], len(raw["ops"]))
        self.assertFalse(raw["ops"][3]["ok"])
        self.assertIn("injected failure", raw["ops"][3]["err"])
        self.assert_timings_exclude_failures(res, raw)

    def test_coloring_exception_and_conflict(self):
        # op 0 raises, op 1 writes a coloring with a conflicting edge, and
        # the loop goes on until 15 s have passed, so at least op 2 succeeds.
        rc, res = bench("--workload", "coloring", "--seed", "902", "--seconds", "15",
                        "--trace", "0", "--break-op", "0", "--break-coloring", "1")
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 2)
        raw = latest_raw("coloring", 902)
        self.assertGreaterEqual(len(raw["ops"]), 3)
        self.assertIn("injected failure", raw["ops"][0]["err"])
        self.assertIn("edges join equal colors", raw["ops"][1]["err"])
        self.assert_timings_exclude_failures(res, raw)

    def test_no_result_without_the_engine(self):
        # A directory holding only BENCHMARK.json and the benchmark itself.
        bare = os.path.join(run.BUILD, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            rc, res = bench("--workload", "coloring", "--seed", "1", "--seconds", "1",
                            "--trace", "0", cwd=bare,
                            script=os.path.join(bare, "perfbench", "run.py"))
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(rc, 0)
        self.assertIsNone(res)


if __name__ == "__main__":
    unittest.main(verbosity=2)
