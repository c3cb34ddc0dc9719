"""Compares two sets of benchmark runs (files written by perfbench/sweep.py).

    python3 perfbench/compare.py base.jsonl change.jsonl

Prints, per workload and end-to-end metric: each side's median and
quartiles, the paired win fraction of the change (pairs share a seed; ties
count for neither), and a verdict under the bounds in BENCHMARK.json:

  better      the change wins at least 9 of 10 pairs and the medians differ by
              more than the base's inter-quartile distance
  worse       the change's median is worse than the base's by more than the bound
  same        neither
  unresolved  a side's spread is wider than the bound, unless every run of the
              change is better than every run of the base
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r.get("trace", 0) == 0:
                    runs.setdefault(r["workload"], {})[r["seed"]] = r["result"]["metrics"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, pairs, bound, lower_better):
    """base, change: lists of values; pairs: [(b, c)] sharing a seed."""
    better = (lambda c, b: c < b) if lower_better else (lambda c, b: c > b)
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(1 for b, c in pairs if better(c, b))
    win_frac = wins / len(pairs) if pairs else float("nan")
    worse_by = ((cmed - bmed) if lower_better else (bmed - cmed)) / bmed
    spread = max((bq3 - bq1) / bmed, (cq3 - cq1) / cmed)
    dominates = all(better(c, b) for c in change for b in base)
    if spread > bound and not dominates:
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    elif worse_by < 0 and (dominates or win_frac >= 0.9) and abs(cmed - bmed) > (bq3 - bq1):
        v = "better"
    else:
        v = "same"
    return {"base": (bq1, bmed, bq3), "change": (cq1, cmed, cq3), "win_frac": win_frac,
            "worse_by": worse_by, "spread": spread, "verdict": v}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.benchmark) as f:
        bench = json.load(f)
    base, change = load(a.base), load(a.change)
    print(f"{'workload':14s} {'metric':12s} {'base q1/med/q3':>32s} {'change q1/med/q3':>32s}"
          f" {'wins':>5s} {'verdict':>10s}")
    for w in sorted(set(base) & set(change)):
        seeds = sorted(set(base[w]) & set(change[w]))
        for m in bench["end_to_end"]:
            n = m["name"]
            bv = [r[n]["value"] for r in base[w].values()]
            cv = [r[n]["value"] for r in change[w].values()]
            pairs = [(base[w][s][n]["value"], change[w][s][n]["value"]) for s in seeds]
            r = verdict(bv, cv, pairs, m["bound"], m["better"] == "lower")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:14s} {n:12s} {fmt(r['base']):>32s} {fmt(r['change']):>32s}"
                  f" {r['win_frac']:5.2f} {r['verdict']:>10s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
