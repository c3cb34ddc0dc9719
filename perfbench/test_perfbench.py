"""Tests of the benchmark itself: its arithmetic, its comparison verdicts,
its refusal to run outside a repository, a tiny-size smoke run of every
workload, and the SparkEntry query sink's plan.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import compare  # noqa: E402
import stats  # noqa: E402

def span(i, parent, start, end, name="s", **counts):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end,
            "counts": counts or None}


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: p90 has 9 beyond it
        self.assertEqual(stats.tail_percentile(xs), (50.0, 50))
        xs = list(range(1, 101))  # 100 samples: p90 has exactly 10 beyond
        self.assertEqual(stats.tail_percentile(xs), (90.0, 90))
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail_percentile(xs), (99.0, 990))

    def test_too_few_for_any(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50.0)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 100), 4)


class SelfTimeTest(unittest.TestCase):
    def test_minus_union_of_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
                 span(3, 0, 90, 120), span(4, 1, 12, 14)]
        st = stats.self_times(spans)
        # children cover [10, 50] and [90, 100] of the parent: 50 of 100
        self.assertEqual(st[0], 50)
        self.assertEqual(st[1], 18)
        self.assertEqual(st[3], 30)

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 5, 9)])[0], 4)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class RateAndFailuresTest(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(10, 3), 0.3)
        self.assertEqual(stats.failed_frac(4, 0), 0.0)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)

    def test_turns_per_s(self):
        # two passes of 100 and 300 turns in 2 s each: 400 turns in 4 s
        self.assertEqual(stats.rate([(2.0, 100), (2.0, 300)]), 100.0)
        with self.assertRaises(ValueError):
            stats.rate([])

    def test_alloc_bytes_per_item(self):
        # 1000 and 3000 bytes over 10 turns each: 200 bytes a turn
        self.assertEqual(stats.per_item([(1000, 10), (3000, 10)]), 200.0)
        with self.assertRaises(ValueError):
            stats.per_item([(5, 0)])

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        q1, _, q3 = compare.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), (q3 - q1) / 3.0)


class RuntimeMetricsTest(unittest.TestCase):
    def test_per_iteration_and_busy_share(self):
        spans = [
            span(0, -1, 0, 1_000_000_000, "iter:w", jobs=1, tasks=4, task_ns=2_000_000_000),
            span(1, 0, 100, 200, "action:collect", jobs=2, tasks=4, task_ns=2_000_000_000,
                 shuffle_write_bytes=10, peak_exec_mem_bytes=2**20),
            span(2, -1, 0, 1_000_000_000, "iter:w", jobs=3, tasks=8, task_ns=4_000_000_000,
                 gc_ms=500, peak_exec_mem_bytes=3 * 2**20),
            span(3, -1, 0, 5, "layer:core", jobs=100),
        ]
        m = stats.runtime_metrics(spans, "iter:w", nproc=4)
        self.assertEqual(m["runtime.jobs"], 3.0)
        self.assertEqual(m["runtime.tasks"], 8.0)
        self.assertEqual(m["runtime.busy_frac"], 8e9 / (2e9 * 4))
        self.assertEqual(m["runtime.shuffle_write_bytes"], 5.0)
        self.assertEqual(m["runtime.gc_s"], 0.25)
        self.assertEqual(m["runtime.peak_exec_mem_mb"], 3.0)

    def test_query_metrics(self):
        spans = [span(0, -1, 0, 2_000_000_000, "query:q1", jobs=2),
                 span(1, 0, 0, 10, "x", jobs=1)]
        m = stats.query_metrics(spans, ["q1"])
        self.assertEqual(m["SparkEntry.query_s.q1"], 2.0)
        self.assertEqual(m["SparkEntry.query_jobs.q1"], 3)


class CompareTest(unittest.TestCase):
    def test_same_within_bound(self):
        base = [1.00, 1.01, 0.99, 1.00, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00]
        change = [x * 1.02 for x in base]
        r = compare.verdict(base, change, list(zip(base, change)), 0.1, lower_better=True)
        self.assertEqual(r["verdict"], "same")
        self.assertEqual(r["win_frac"], 0.0)

    def test_better_needs_nine_tenths_of_pairs(self):
        base = [1.00, 1.01, 0.99, 1.00, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00]
        change = [x * 0.8 for x in base]
        r = compare.verdict(base, change, list(zip(base, change)), 0.1, lower_better=True)
        self.assertEqual(r["verdict"], "better")
        self.assertEqual(r["win_frac"], 1.0)

    def test_worse_beyond_bound(self):
        base = [100.0, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [x * 0.8 for x in base]  # higher is better: 20 % worse
        r = compare.verdict(base, change, list(zip(base, change)), 0.1, lower_better=False)
        self.assertEqual(r["verdict"], "worse")

    def test_unresolved_when_spread_exceeds_bound(self):
        base = [1.0, 1.5, 0.7, 1.2, 0.9, 1.4, 0.8, 1.1, 1.3, 0.6]
        change = [1.0, 1.4, 0.8, 1.1, 1.0, 1.3, 0.7, 1.2, 1.2, 0.7]
        r = compare.verdict(base, change, list(zip(base, change)), 0.1, lower_better=True)
        self.assertEqual(r["verdict"], "unresolved")


class RefusesOutsideRepoTest(unittest.TestCase):
    def test_bare_benchmark_directory_fails_without_result(self):
        tmp = os.path.join(build.build_dir(ROOT), "test-bare")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "hist_ingest",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=170)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"metrics"', r.stdout)


class SmokeTest(unittest.TestCase):
    def test_every_workload_at_tiny_size(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in bench["workloads"]:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                w["name"], "--seed", "3", "--seconds", "1", "--trace", "0",
                                "--smoke"], cwd=ROOT, stdout=subprocess.PIPE, text=True,
                               timeout=600)
            self.assertEqual(r.returncode, 0, w["name"])
            res = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"], w["name"])
            self.assertEqual(set(res["metrics"]), {m["name"] for m in bench["end_to_end"]})
            for m in res["metrics"].values():
                self.assertGreater(m["value"], 0)


class SinkPlanTest(unittest.TestCase):
    def test_sink_keeps_every_aggregate_and_udf(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        sys.path.insert(0, HERE)
        import run
        queries = run.traced_queries(bench)
        cp = build.build(ROOT)
        work = os.path.join(build.build_dir(ROOT), "test-plancheck")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            r = subprocess.run(
                build.java_command(cp) + [
                    f"-Dspark.local.dir={work}", f"-Djava.io.tmpdir={work}",
                    f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                    "perfbench.PlanCheck", "--data", os.path.join(ROOT, run.DATA),
                    "--work", work, "--queries", ",".join(queries)],
                cwd=work, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0)
        report = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(report), queries)
        for q, v in report.items():
            self.assertEqual(v["sink_lost"], [], q)
        # the check has teeth: .count() prunes sketch work from these (other
        # queries run their sketch work eagerly and return a local frame)
        for q in ("q04_hll_distinct", "q05_cms_freq", "q37_sql_param_sketches"):
            self.assertGreater(report[q]["full"], 0, q)
            self.assertNotEqual(report[q]["count_lost"], [], q)


if __name__ == "__main__":
    unittest.main()
