#!/usr/bin/env python3
"""Self and inclusive share of CPU samples per method, from a JFR dump.

Reads the JSON that `jfr print --json --events jdk.ExecutionSample` writes
and prints, for Spark's executor task threads, the methods with the
largest self share (top frame) and inclusive share (anywhere on the stack,
counted once per sample). --method adds a line for each named method even
when it is not in the top list.

Recording a benchmark run without editing it (the JVM that
perfbench/run.py starts inherits JAVA_TOOL_OPTIONS; build first so the
compiler JVM is not recorded):

    python3 perfbench/build.py
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/conv.jfr,settings=profile" \\
        python3 perfbench/run.py --workload conv_sketches --seed 42
    jfr print --json --events jdk.ExecutionSample /tmp/conv.jfr > /tmp/conv.json
    python3 tools/jfr_top.py /tmp/conv.json --method UTF8String.numChars \\
        --method UTF8String.getIsValid

The recording covers the whole JVM: set-up, warm-up and timed passes.
"""
import argparse
import collections
import json
import sys

# Java name prefix of Spark's executor task threads.
EXECUTOR_THREADS = "Executor task launch worker"
TOP = 20


def frame_name(frame):
    """(Class.method, package.Class.method) of a stack frame; JFR writes
    class names with '/' separators."""
    m = frame.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{cls.rsplit('.', 1)[-1]}.{m.get('name', '?')}", f"{cls}.{m.get('name', '?')}"


def tally(events):
    total = 0
    self_n = collections.Counter()
    incl_n = collections.Counter()
    for ev in events:
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        v = ev.get("values", {})
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        if not thread.startswith(EXECUTOR_THREADS):
            continue
        frames = ((v.get("stackTrace") or {}).get("frames")) or []
        if not frames:
            continue
        total += 1
        names = [frame_name(f) for f in frames]
        self_n[names[0]] += 1
        for name in set(names):
            incl_n[name] += 1
    return total, self_n, incl_n


def matches(name, wanted):
    short, full = name
    return wanted in (short, full) or full.endswith("." + wanted)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dump", help="output of jfr print --json --events jdk.ExecutionSample")
    ap.add_argument("--method", action="append", default=[],
                    help="Class.method (simple or qualified class name) to report")
    a = ap.parse_args(argv)
    with open(a.dump) as f:
        total, self_n, incl_n = tally(json.load(f)["recording"]["events"])
    if total == 0:
        print("no executor-thread samples", file=sys.stderr)
        return 1
    print(f"samples: {total} (executor task threads)")
    for title, counts in (("self", self_n), ("inclusive", incl_n)):
        print(f"\ntop {TOP} by {title} share")
        for (short, _), n in counts.most_common(TOP):
            print(f"{100.0 * n / total:6.1f} %  {n:7d}  {short}")
    if a.method:
        print("\nrequested methods (self / inclusive)")
        for wanted in a.method:
            s = sum(n for k, n in self_n.items() if matches(k, wanted))
            i = max([n for k, n in incl_n.items() if matches(k, wanted)], default=0)
            print(f"{100.0 * s / total:6.1f} % / {100.0 * i / total:6.1f} %  {wanted}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
