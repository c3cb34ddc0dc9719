"""Tests of tools/bench_diff.py on small bench artifacts.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_diff  # noqa: E402


def artifact(queries, metrics=None):
    """A Bench artifact: {query: seconds} plus {query: (jobs, shuffle read bytes)}."""
    a = {"queries": queries, "cpu_probe": {"parallel_efficiency": 0.9}}
    if metrics is not None:
        a["query_metrics"] = {q: {"jobs": j, "shuffle_read_bytes": b, "shuffle_write_bytes": b}
                              for q, (j, b) in metrics.items()}
    return a


class BenchDiffTest(unittest.TestCase):

    def write(self, art, wrapped=False):
        fd, path = tempfile.mkstemp(suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump({"parsed": art} if wrapped else art, f)
        self.addCleanup(os.remove, path)
        return path

    def run_main(self, *arts):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = bench_diff.main(["bench_diff.py"] + [self.write(a) for a in arts])
        self.assertEqual(code, 0)
        return out.getvalue()

    def verdict(self, out, query):
        return next(line for line in out.splitlines() if line.startswith(query + " "))

    def test_job_count_change_is_plan_changed(self):
        old = artifact({"q1": 1.0}, {"q1": (3, 1000)})
        new = artifact({"q1": 1.0}, {"q1": (4, 1000)})
        out = self.run_main(old, new)
        self.assertIn("PLAN-CHANGED (job count differs)", self.verdict(out, "q1"))
        self.assertIn("plan-changed: 1  shuffle-only: 0  noise-only: 0", out)

    def test_shuffle_bytes_alone_are_shuffle_only(self):
        # two parent runs read 162 499 and 162 474 B; the new run reads
        # 162 495 B with the same jobs: compared with the nearer one
        olds = [artifact({"q29": 2.0, "q32": 1.0}, {"q29": (63, 162499), "q32": (7, 3991)}),
                artifact({"q29": 2.1, "q32": 1.0}, {"q29": (63, 162474), "q32": (7, 3990)})]
        new = artifact({"q29": 2.0, "q32": 1.0}, {"q29": (63, 162495), "q32": (7, 3990)})
        out = self.run_main(*olds, new)
        self.assertIn("SHUFFLE-ONLY (same jobs, shuffle -4 B, -0.00 %)", self.verdict(out, "q29"))
        self.assertIn("SAME", self.verdict(out, "q32"))
        self.assertIn("plan-changed: 0  shuffle-only: 1  noise-only: 0", out)
        # a larger share is printed too, and seconds still reach the table
        new = artifact({"q29": 2.0, "q32": 1.0}, {"q29": (63, 81237), "q32": (7, 3990)})
        line = self.verdict(self.run_main(*olds, new), "q29")
        self.assertIn("shuffle -81237 B, -50.00 %", line)
        self.assertIn("2.00", line)

    def test_jobs_and_bytes_equal_is_same_or_noise(self):
        old = artifact({"q1": 1.0, "q2": 1.0}, {"q1": (3, 10), "q2": (5, 20)})
        new = artifact({"q1": 1.1, "q2": 3.0}, {"q1": (3, 10), "q2": (5, 20)})
        out = self.run_main(old, new)
        self.assertIn("SAME", self.verdict(out, "q1"))
        self.assertIn("NOISE-ONLY", self.verdict(out, "q2"))
        self.assertIn("plan-changed: 0  shuffle-only: 0  noise-only: 1", out)

    def test_missing_metrics_are_unknown(self):
        for old, new in ((artifact({"q1": 1.0}), artifact({"q1": 1.0}, {"q1": (3, 10)})),
                         (artifact({"q1": 1.0}, {"q1": (3, 10)}), artifact({"q1": 1.0}))):
            out = self.run_main(old, new)
            self.assertIn("UNKNOWN (no query_metrics to compare)", self.verdict(out, "q1"))
            self.assertIn("plan-changed: 1  shuffle-only: 0", out)

    def test_reads_wrapped_artifacts(self):
        old = artifact({"q1": 1.0}, {"q1": (3, 10)})
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            bench_diff.main(["bench_diff.py", self.write(old, wrapped=True), self.write(old)])
        self.assertIn("SAME", self.verdict(out.getvalue(), "q1"))


if __name__ == "__main__":
    unittest.main()
