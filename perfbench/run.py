"""Benchmark of the sketch engine: one workload per run, seeded inputs,
output checks, one JSON result line.

    python3 perfbench/run.py --workload hist_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn
    python3 perfbench/run.py --workload conv_sketches --smoke   # tiny sizes

Run it from the root of the repository. The first run compiles the library
and the benchmark (perfbench/build.py). With --trace 0 the last stdout line
carries the end-to-end metrics, with --trace 1 the per-layer metrics.
Every run leaves its full artifact under <build dir>/perfbench/runs/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["hist_ingest", "conv_sketches"]
DATA = os.path.join("perfbench", "data", "sf0.001")
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def traced_queries(bench):
    """The SparkEntry queries whose per-layer metrics BENCHMARK.json lists."""
    return sorted({m["name"].split(".", 2)[2] for m in bench["per_layer"]
                   if m["name"].startswith("SparkEntry.query_s.")})


def run_jvm(cp, workload, seed, seconds, trace, smoke, queries, deadline, runs, tag, work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.java_command(cp) + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--out", out, "--work", work, "--data", os.path.join(ROOT, DATA),
        "--queries", ",".join(queries)]
    if smoke:
        cmd.append("--smoke")
    with open(os.path.join(runs, f"{tag}.log"), "w") as logf:
        subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT, check=True,
                       timeout=max(10.0, deadline - time.monotonic()))
    with open(out) as f:
        return json.load(f)


def source_ids():
    """The git commit when the checkout is a repository, and always the
    hash of the compiled sources."""
    ids = {"git_sha": None}
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            ids["git_sha"] = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    with open(os.path.join(build.build_dir(ROOT), "classes.stamp")) as f:
        ids["source_sha256"] = f.read().strip()
    return ids


def e2e_metrics(art, samples):
    """End-to-end metrics from the untraced samples of one run. An operation
    is one workload iteration (a pass)."""
    setup = art["setup"]
    iters, cpu, alloc = {}, {}, {}
    for s in samples:
        iters.setdefault(s["iter"], []).append((s["seconds"], s["items"]))
        cpu[s["iter"]] = cpu.get(s["iter"], 0.0) + s["cpu_seconds"]
        alloc.setdefault(s["iter"], []).append((s["alloc_bytes"], s["items"]))
    return {
        "setup_s": setup["session_s"] + setup["stage_s"] + setup["warmup_s"],
        "op_cpu_s_p50": stats.median(list(cpu.values())),
        "items_per_s": stats.median([stats.rate(v) for v in iters.values()]),
        "alloc_bytes_per_item": stats.median([stats.per_item(v) for v in alloc.values()]),
    }


def named_metrics(workload, art, samples, failed_frac):
    """Metrics beside the end-to-end ones, for people."""
    secs = [s["seconds"] for s in samples]
    ex = art["extras"]
    out = {"pass_s_p50": (stats.median(secs), "s"),
           "passes": (len(secs), "count"),
           "failed_frac": (failed_frac, "ratio"),
           "err_over_bound": (ex["err_over_bound"], "ratio"),
           "peak_rss_mb": (art["peak_rss_mb"], "MB")}
    if art["heap_after_gc_mb"]:
        out["heap_after_gc_mb_max"] = (max(art["heap_after_gc_mb"]), "MB")
    tail = stats.tail_percentile(secs)
    if tail and tail[0] > 50:
        out[f"pass_s_p{tail[0]:g}"] = (tail[1], "s")
    if workload == "conv_sketches":
        out["stored_bytes_per_conv"] = (ex["stored_bytes_per_conv"], "B")
    return out


def layer_metrics(art, queries, workload, nproc):
    spans = art["spans"]
    out = dict(art["layers"])
    out.update(stats.runtime_metrics(spans, f"iter:{workload}", nproc))
    out.update(stats.query_metrics(spans, queries))
    traced = [s["seconds"] for s in art["samples"] if s["traced"]]
    plain = [s["seconds"] for s in art["samples"] if not s["traced"] and s["iter"] >= 0]
    out["trace.overhead_frac"] = stats.median(traced) / stats.median(plain) - 1
    return out


def run_one(cp, workload, seed, seconds, trace, smoke, bench, deadline):
    queries = traced_queries(bench)
    runs = os.path.join(build.build_dir(ROOT), "runs")
    tag = f"{workload}-s{seed}-t{int(trace)}{'-smoke' if smoke else ''}"
    work = os.path.join(build.build_dir(ROOT), "work", f"{tag}-{os.getpid()}")
    try:
        return finish_run(cp, workload, seed, seconds, trace, smoke, bench, deadline,
                          queries, runs, tag, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def finish_run(cp, workload, seed, seconds, trace, smoke, bench, deadline, queries, runs, tag,
               work):
    art = run_jvm(cp, workload, seed, seconds, trace, smoke, queries, deadline, runs, tag, work)
    attempted, failed = art["attempted"], art["failed"]
    failures = list(art["failures"])
    if trace:
        # the SparkEntry layer pass wrote each query's result for its oracle
        import oracle
        verdicts = oracle.compare(os.path.join(work, "suite_results"), os.path.join(ROOT, DATA))
        art["oracle"] = verdicts
        for q, why in verdicts.items():
            if why is not None:
                failed += 1
                failures.append(f"{q}: oracle mismatch: {why}")
    samples = [s for s in art["samples"] if s["iter"] >= 0 and not s["traced"]]
    nproc = art["meta"]["nproc"]
    art["failed_total"] = failed
    art["failures"] = failures
    art["meta"].update(source_ids())
    e2e = e2e_metrics(art, samples)
    e2e_unit = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    if trace:
        metrics = layer_metrics(art, queries, workload, nproc)
        art["self_time_s"] = stats.self_time_summary(art["spans"])
        unit = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        metrics, unit = e2e, e2e_unit
    named = named_metrics(workload, art, samples, stats.failed_frac(attempted, failed))
    art["named_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    art["metrics"] = metrics
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(art, f)
    for k, v in e2e.items():
        item = f" ({art['meta']['item']}s)" if k == "items_per_s" else ""
        print(f"{workload} {k} = {v:.6g} {e2e_unit[k]}{item}")
    for k, (v, u) in named.items():
        print(f"{workload} {k} = {v:.6g} {u}")
    for msg in failures[:10]:
        log(f"{workload} FAILED: {msg}")
    missing = set(unit) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in unit.items()},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for tests")
    a = ap.parse_args(argv)
    try:
        bench = load_benchmark()
        seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
        cp = build.build(ROOT)
    except (OSError, build.BuildError, subprocess.SubprocessError) as e:
        log(f"cannot build: {e}")
        return 2
    # a first run may spend minutes compiling; the run itself gets the limit
    deadline = time.monotonic() + RUN_LIMIT_S
    names = WORKLOADS if a.workload == "all" else [a.workload]
    result = None
    for w in names:
        try:
            result = run_one(cp, w, a.seed, seconds, bool(a.trace), a.smoke, bench,
                             deadline if len(names) == 1 else time.monotonic() + RUN_LIMIT_S)
        except subprocess.CalledProcessError as e:
            log(f"{w}: the benchmark JVM exited with code {e.returncode}; see its log under "
                f"{os.path.join(build.build_dir(ROOT), 'runs')}")
            return 1
        except subprocess.TimeoutExpired:
            log(f"{w}: the benchmark JVM ran out of time")
            return 1
        except (OSError, RuntimeError, ValueError, KeyError) as e:
            log(f"{w}: run failed: {e}")
            return 1
        if len(names) > 1:
            print(json.dumps({"workload": w, **result}))
    if len(names) == 1:
        print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
