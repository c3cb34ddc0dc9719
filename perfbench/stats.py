"""Arithmetic of the benchmark: percentiles, rates, failure share, span
self time and the per-layer metrics derived from spans."""
import statistics

TAIL_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile of xs (p in [0, 100])."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100), at least rank 1
    return s[int(k) - 1]


def tail_percentile(xs, beyond=10):
    """The highest of TAIL_PERCENTILES with at least `beyond` samples above
    its rank, as (p, value); None if even the median has fewer."""
    n = len(xs)
    best = None
    for p in TAIL_PERCENTILES:
        rank = -(-n * p // 100)
        if n - rank >= beyond:
            best = (p, percentile(xs, p))
    return best


def rate(samples):
    """Work items per second over samples of (seconds, items)."""
    secs = sum(s for s, _ in samples)
    if secs <= 0:
        raise ValueError("no timed work")
    return sum(i for _, i in samples) / secs


def per_item(samples):
    """A quantity per work item over samples of (quantity, items)."""
    items = sum(i for _, i in samples)
    if items <= 0:
        raise ValueError("no work items")
    return sum(q for q, _ in samples) / items


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = [(max(a, c["start_ns"]), min(b, c["end_ns"])) for c in kids.get(s["id"], [])]
        out[s["id"]] = (b - a) - union_length([(x, y) for x, y in covered if y > x])
    return out


def subtree_counts(spans):
    """Span id -> scheduler counts of the span and all its descendants."""
    by_id = {s["id"]: s for s in spans}
    total = {s["id"]: {} for s in spans}
    for s in spans:
        c = s.get("counts") or {}
        node = s["id"]
        while node != -1:
            t = total[node]
            for k, v in c.items():
                t[k] = max(t.get(k, 0), v) if k.startswith("peak") else t.get(k, 0) + v
            node = by_id[node]["parent"]
    return total


def self_time_summary(spans):
    """Span name -> total self seconds, largest first."""
    st = self_times(spans)
    by_name = {}
    for s in spans:
        key = s["name"].split(":")[0]
        by_name[key] = by_name.get(key, 0.0) + st[s["id"]] / 1e9
    return dict(sorted(by_name.items(), key=lambda kv: -kv[1]))


def runtime_metrics(spans, root_name, nproc):
    """runtime.* per traced workload iteration (root spans named root_name)."""
    roots = [s for s in spans if s["name"] == root_name]
    if not roots:
        raise ValueError(f"no spans named {root_name}")
    sub = subtree_counts(spans)
    wall_ns = sum(s["end_ns"] - s["start_ns"] for s in roots)
    tot = lambda k: sum(sub[s["id"]].get(k, 0) for s in roots)
    n = len(roots)
    return {
        "runtime.jobs": tot("jobs") / n,
        "runtime.tasks": tot("tasks") / n,
        "runtime.busy_frac": tot("task_ns") / (wall_ns * nproc),
        "runtime.shuffle_write_bytes": tot("shuffle_write_bytes") / n,
        "runtime.spill_bytes": tot("spill_bytes") / n,
        "runtime.gc_s": tot("gc_ms") / 1e3 / n,
        "runtime.peak_exec_mem_mb": max(sub[s["id"]].get("peak_exec_mem_bytes", 0)
                                        for s in roots) / 2**20,
    }


def query_metrics(spans, names):
    """SparkEntry.query_s.<q> and SparkEntry.query_jobs.<q>: medians over the
    spans named query:<q>."""
    sub = subtree_counts(spans)
    out = {}
    for q in names:
        qs = [s for s in spans if s["name"] == f"query:{q}"]
        if not qs:
            raise ValueError(f"no span for query {q}")
        out[f"SparkEntry.query_s.{q}"] = median([(s["end_ns"] - s["start_ns"]) / 1e9 for s in qs])
        out[f"SparkEntry.query_jobs.{q}"] = median([sub[s["id"]].get("jobs", 0) for s in qs])
    return out


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
