"""Tests of tools/jfr_top.py on a small `jfr print --json` fixture.

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

import jfr_top  # noqa: E402

WORKER = {"javaName": "Executor task launch worker for task 0.0 in stage 1.0 (TID 1)"}
MAIN_THREAD = {"javaName": "main"}


def frame(cls, method):
    return {"method": {"type": {"name": cls}, "name": method}, "lineNumber": 1}


UPDATE = frame("graft/sketches/CountMin", "addHash")
DECODE = frame("graft/sketches/CountMin$", "fromBytes")
AGG = frame("org/apache/spark/sql/execution/aggregate/SortBasedAggregator", "next")


def cpu(thread, frames, truncated=False):
    return {"type": "jdk.ExecutionSample", "values": {
        "sampledThread": thread, "stackTrace": {"truncated": truncated, "frames": frames}}}


def alloc(thread, frames, weight, truncated=False):
    return {"type": "jdk.ObjectAllocationSample", "values": {
        "eventThread": thread, "weight": weight,
        "stackTrace": {"truncated": truncated, "frames": frames}}}


EVENTS = [
    cpu(WORKER, [UPDATE, AGG]),
    cpu(WORKER, [UPDATE, AGG], truncated=True),
    cpu(WORKER, [AGG]),
    cpu(WORKER, [DECODE, AGG]),
    cpu(MAIN_THREAD, [DECODE]),  # not an executor thread: left out
    alloc(WORKER, [DECODE, AGG], 3000, truncated=True),
    alloc(WORKER, [AGG], 1000),
    alloc(MAIN_THREAD, [DECODE], 50000),
]


class JfrTopTest(unittest.TestCase):

    def dump(self, events):
        fd, path = tempfile.mkstemp(suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump({"recording": {"events": events}}, f, indent=2)
        self.addCleanup(os.remove, path)
        return path

    def run_main(self, *args):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = jfr_top.main(list(args))
        self.assertEqual(code, 0)
        return out.getvalue()

    def test_streaming_reader_matches_json_load(self):
        path = self.dump(EVENTS)
        for chunk in (7, 64, 1 << 20):  # events split across reads, and not
            with open(path) as f:
                self.assertEqual(list(jfr_top.read_events(f, chunk)), EVENTS)
        with open(self.dump([])) as f:
            self.assertEqual(list(jfr_top.read_events(f, 5)), [])

    def test_cpu_shares_and_truncated(self):
        samples, truncated, total, self_n, incl_n = jfr_top.tally(EVENTS)
        self.assertEqual((samples, truncated, total), (4, 1, 4))
        self.assertEqual(self_n[("CountMin.addHash", "graft.sketches.CountMin.addHash")], 2)
        agg = "org.apache.spark.sql.execution.aggregate.SortBasedAggregator.next"
        self.assertEqual(incl_n[("SortBasedAggregator.next", agg)], 4)
        out = self.run_main(self.dump(EVENTS), "--method", "CountMin.fromBytes")
        self.assertIn("samples: 4 (executor task threads)", out)
        self.assertIn("truncated stacks: 25.0 %", out)
        self.assertIn(" 25.0 % /   25.0 %  CountMin.fromBytes", out)

    def test_alloc_mode_weighs_bytes(self):
        samples, truncated, total, self_n, incl_n = jfr_top.tally(
            EVENTS, "jdk.ObjectAllocationSample")
        self.assertEqual((samples, truncated, total), (2, 1, 4000))
        out = self.run_main(self.dump(EVENTS), "--alloc", "--method", "CountMin.fromBytes",
                            "--method", "SortBasedAggregator.next")
        self.assertIn("allocated: 4000 B in 2 samples (executor task threads)", out)
        self.assertIn("truncated stacks: 50.0 %", out)
        self.assertIn(" 75.0 % /   75.0 %  CountMin.fromBytes", out)
        self.assertIn(" 25.0 % /  100.0 %  SortBasedAggregator.next", out)

    def test_within_keeps_samples_holding_the_frame(self):
        out = self.run_main(self.dump(EVENTS), "--within", "CountMin.addHash",
                            "--method", "SortBasedAggregator.next")
        self.assertIn("samples: 2 (executor task threads, within CountMin.addHash)", out)
        self.assertIn("truncated stacks: 50.0 %", out)
        self.assertIn("  0.0 % /  100.0 %  SortBasedAggregator.next", out)
        self.assertNotIn("fromBytes", out)
        out = self.run_main(self.dump(EVENTS), "--alloc", "--within", "SortBasedAggregator.next")
        self.assertIn("allocated: 4000 B in 2 samples (executor task threads, within", out)
        with contextlib.redirect_stderr(io.StringIO()):
            self.assertEqual(jfr_top.main([self.dump(EVENTS), "--within", "Hll.addHash"]), 1)

    def test_callers_prints_the_top_caller_chains(self):
        numchars = frame("org/apache/spark/unsafe/types/UTF8String", "numChars")
        length = frame("org/apache/spark/sql/catalyst/expressions/Length", "nullSafeEval")
        project = frame("org/apache/spark/sql/catalyst/expressions/GeneratedClass$"
                        "GeneratedIteratorForCodegenStage1", "processNext")
        events = [
            cpu(WORKER, [numchars, project, AGG]),
            cpu(WORKER, [numchars, project, AGG]),
            cpu(WORKER, [numchars, length, project, AGG]),
            cpu(WORKER, [numchars]),  # no caller below the frame
            cpu(WORKER, [UPDATE, AGG]),
            cpu(MAIN_THREAD, [numchars, length]),  # not an executor thread: left out
        ]
        gen = "GeneratedClass$GeneratedIteratorForCodegenStage1.processNext"
        callers = jfr_top.Callers("UTF8String.numChars", 2)
        jfr_top.tally(events, callers=callers)
        self.assertEqual(callers.total, 4)
        self.assertEqual(callers.chains, {
            (gen, "SortBasedAggregator.next"): 2,
            ("Length.nullSafeEval", gen): 1,
            (): 1})
        out = self.run_main(self.dump(events), "--callers", "UTF8String.numChars",
                            "--depth", "1")
        self.assertIn("top 20 caller chains of UTF8String.numChars (depth 1), "
                      "share of its CPU samples / of all", out)
        self.assertIn(f" 50.0 % /   40.0 %  {gen}\n", out)
        self.assertIn(" 25.0 % /   20.0 %  Length.nullSafeEval\n", out)
        self.assertIn(" 25.0 % /   20.0 %  (no caller on the stack)\n", out)
        out = self.run_main(self.dump(events), "--callers", "Length.nullSafeEval")
        self.assertIn(f"100.0 % /   20.0 %  {gen} <- SortBasedAggregator.next\n", out)

    def test_method_names(self):
        obj = ("CountMin$.fromBytes", "graft.sketches.CountMin$.fromBytes")
        for wanted in ("CountMin.fromBytes", "CountMin$.fromBytes", "sketches.CountMin.fromBytes",
                       "graft.sketches.CountMin$.fromBytes"):
            self.assertTrue(jfr_top.matches(obj, wanted), wanted)
        for wanted in ("Min.fromBytes", "CountMin.from", "BloomFilter.fromBytes"):
            self.assertFalse(jfr_top.matches(obj, wanted), wanted)


if __name__ == "__main__":
    unittest.main()
