#!/usr/bin/env python3
"""Mechanical bench-regression adjudication (verdict-r6 item 3).

Given two bench artifacts (the full JSON files Bench writes to
SPARK_GRAFT_BENCH_OUT, each carrying per-query `query_metrics`), classify
every query:

  PLAN-CHANGED  the job count differs          -> a code/plan change
  SHUFFLE-ONLY  same jobs, shuffle bytes differ -> printed with the byte
                delta and its share; shuffle bytes of one plan move a few
                bytes from run to run, so this alone is not a plan change
  NOISE-ONLY    only seconds differ            -> host noise, not a regression
  SAME          within tolerance on all three
  UNKNOWN       no query_metrics to compare

and print the per-query table plus both totals. With more than two inputs,
the LAST artifact is compared against the per-query MIN over all earlier
ones (the quiet-band best), and the min-per-query composite of every input
is printed.

Usage: python3 tools/bench_diff.py OLD.json [OLD2.json ...] NEW.json
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    return d


def main(argv):
    if len(argv) < 3:
        print(__doc__)
        return 2
    arts = [load(p) for p in argv[1:]]
    olds, new = arts[:-1], arts[-1]
    names = sorted(set().union(*[a.get("queries", {}) for a in arts]))

    def best(q):
        vals = [a.get("queries", {}).get(q) for a in olds]
        vals = [v for v in vals if v is not None]
        return min(vals) if vals else None

    def qm(a, q, k):
        return a.get("query_metrics", {}).get(q, {}).get(k)

    print(f"{'query':34s} {'old(best)':>9s} {'new':>8s} {'delta':>7s}  verdict")
    plan_changed, shuffle_only, noise = [], [], []
    for q in names:
        o = best(q)
        n = new.get("queries", {}).get(q)
        if o is None or n is None:
            print(f"{q:34s} {'-':>9s} {'-':>8s} {'-':>7s}  ADDED/REMOVED")
            plan_changed.append(q)
            continue
        # jobs + shuffle bytes vs EVERY old artifact: equality with ANY old
        # run means the plan is unchanged (a contended listener can bleed
        # metrics between queries — matching one quiet run is the signal).
        # Artifacts with MISSING metrics must not match vacuously
        # (None == None) — classify UNKNOWN instead.
        jobs = qm(new, q, "jobs")
        read = qm(new, q, "shuffle_read_bytes")
        same_jobs = [a for a in olds if jobs is not None and qm(a, q, "jobs") == jobs]
        delta = n - o
        if jobs is None or all(qm(a, q, "jobs") is None for a in olds):
            verdict = "UNKNOWN (no query_metrics to compare)"
            plan_changed.append(q)
        elif not same_jobs:
            verdict = "PLAN-CHANGED (job count differs)"
            plan_changed.append(q)
        elif all(qm(a, q, "shuffle_read_bytes") != read for a in same_jobs):
            # against the equal-jobs run whose bytes are nearest
            ref = min((qm(a, q, "shuffle_read_bytes") or 0 for a in same_jobs),
                      key=lambda b: abs((read or 0) - b))
            diff = (read or 0) - ref
            share = f"{100.0 * diff / ref:+.2f} %" if ref else "n/a"
            verdict = f"SHUFFLE-ONLY (same jobs, shuffle {diff:+d} B, {share})"
            shuffle_only.append(q)
        elif abs(delta) > max(0.25, 0.25 * o):
            verdict = "NOISE-ONLY (same plan, sec moved)"
            noise.append(q)
        else:
            verdict = "SAME"
        print(f"{q:34s} {o:9.2f} {n:8.2f} {delta:+7.2f}  {verdict}")

    def composite(a):
        return sum(a.get("queries", {}).values())

    mins = {
        q: min(a.get("queries", {}).get(q, float("inf")) for a in arts)
        for q in names
    }
    print()
    for p, a in zip(argv[1:], arts):
        eff = a.get("cpu_probe", {}).get("parallel_efficiency")
        print(f"total {composite(a):7.1f} s  eff {eff}  {p}")
    print(f"min-per-query composite over all inputs: {sum(mins.values()):.1f} s")
    print(f"plan-changed: {len(plan_changed)}  shuffle-only: {len(shuffle_only)}  "
          f"noise-only: {len(noise)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
