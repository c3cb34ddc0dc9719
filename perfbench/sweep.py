"""Runs the benchmark over several seeds and records every result line.

    python3 perfbench/sweep.py --seeds 1-10 --out runs_a.jsonl
    python3 perfbench/sweep.py --workloads conv_sketches --seeds 1-5 --out c.jsonl

Each line of the output is {"workload", "seed", "trace", "result"}. At the
end it prints, per workload and end-to-end metric, the median and the
inter-quartile spread as a share of the median, beside the metric's bound.
Compare two such files with perfbench/compare.py.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=None, help="comma list; default: all")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    rows = []
    with open(a.out, "a") as out:
        for w in names:
            for s in seeds(a.seeds):
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(s), "--trace", str(a.trace)],
                    cwd=root, stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                if r.returncode != 0 or not lines:
                    print(f"{w} seed {s}: exit code {r.returncode}", file=sys.stderr)
                    continue
                row = {"workload": w, "seed": s, "trace": a.trace, "result": json.loads(lines[-1])}
                out.write(json.dumps(row) + "\n")
                out.flush()
                rows.append(row)
                print(f"{w} seed {s}: " + ", ".join(
                    f"{k}={v['value']:.6g}" for k, v in row["result"]["metrics"].items()
                    if a.trace == 0), file=sys.stderr)
    if a.trace == 0:
        for w in names:
            rs = [r["result"] for r in rows if r["workload"] == w]
            for m in bench["end_to_end"]:
                vals = [r["metrics"][m["name"]]["value"] for r in rs]
                if len(vals) >= 2:
                    print(f"{w:14s} {m['name']:12s} median={stats.median(vals):.6g} "
                          f"spread={stats.spread(vals):.4f} bound={m['bound']} n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
