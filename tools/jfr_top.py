#!/usr/bin/env python3
"""Self and inclusive share of CPU samples or allocated bytes per method, from a JFR dump.

Reads the JSON that `jfr print --json` writes and prints, for Spark's
executor task threads, the methods with the largest self share (top frame)
and inclusive share (anywhere on the stack, counted once per sample).
By default it counts `jdk.ExecutionSample` events; with --alloc it sums
the `weight` (bytes) of `jdk.ObjectAllocationSample` events instead.
--method adds a line for each named method even when it is not in the top
list. --within Class.method keeps only the samples whose stack holds that
frame, so shares split one operator's time (say
`--within ObjectAggregationIterator.processInputs`). It also prints the
share of stacks that JFR truncated: a method below the cut is missing from
those stacks, so its inclusive share reads low by up to that much.
--callers Class.method [--depth N] places a frame's cost: it prints the
chains of the N frames (default 3) that called the frame's innermost
occurrence on each stack, with their share of the frame's own samples.

`jfr print` keeps only the top 5 frames of each stack unless told
otherwise, which leaves the inclusive shares of everything below the
innermost frames meaningless; print with --stack-depth 64. Recording a
benchmark run without editing it (the JVM that perfbench/run.py starts
inherits JAVA_TOOL_OPTIONS; build first so the compiler JVM is not
recorded):

    python3 perfbench/build.py
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/conv.jfr,settings=profile" \\
        python3 perfbench/run.py --workload conv_sketches --seed 42
    jfr print --json --stack-depth 64 \\
        --events jdk.ExecutionSample,jdk.ObjectAllocationSample /tmp/conv.jfr > /tmp/conv.json
    python3 tools/jfr_top.py /tmp/conv.json --method UTF8String.numChars
    python3 tools/jfr_top.py /tmp/conv.json --alloc --method CountMin.fromBytes
    python3 tools/jfr_top.py /tmp/conv.json --callers UTF8String.numChars --depth 4

The recording covers the whole JVM: set-up, warm-up and timed passes. At
stack depth 64 a dump of one benchmark run is over a gigabyte, so the
events are read one at a time rather than loaded whole.
"""
import argparse
import collections
import json
import sys

# Java name prefix of Spark's executor task threads.
EXECUTOR_THREADS = "Executor task launch worker"
TOP = 20
CHUNK = 1 << 22

# event type -> field naming the thread the event belongs to
THREAD_FIELD = {"jdk.ExecutionSample": "sampledThread",
                "jdk.ObjectAllocationSample": "eventThread"}


def read_events(f, chunk=CHUNK):
    """Yields the objects of the dump's "events" array one at a time."""
    dec = json.JSONDecoder()
    buf = ""
    while True:
        i = buf.find('"events"')
        j = buf.find("[", i) if i >= 0 else -1
        if j >= 0:
            buf = buf[j + 1:]
            break
        more = f.read(chunk)
        if not more:
            return
        buf = buf[-64:] + more
    pos = 0
    while True:
        while pos < len(buf) and buf[pos] in " \t\r\n,":
            pos += 1
        if pos < len(buf):
            if buf[pos] == "]":
                return
            try:
                ev, end = dec.raw_decode(buf, pos)
            except json.JSONDecodeError:
                end = -1  # the event runs past the end of the buffer
            if end >= 0:
                yield ev
                pos = end
                if pos > chunk:
                    buf, pos = buf[pos:], 0
                continue
        more = f.read(chunk)
        if not more:
            if pos < len(buf):
                raise ValueError("JFR dump ends inside an event")
            return
        buf, pos = buf[pos:] + more, 0


def frame_name(frame):
    """(Class.method, package.Class.method) of a stack frame; JFR writes
    class names with '/' separators."""
    m = frame.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{cls.rsplit('.', 1)[-1]}.{m.get('name', '?')}", f"{cls}.{m.get('name', '?')}"


class Callers:
    """Weight per chain of the `depth` frames that call the innermost frame
    that `wanted` names, over the samples that hold it (`total`)."""

    def __init__(self, wanted, depth):
        self.wanted, self.depth = wanted, depth
        self.chains = collections.Counter()
        self.total = 0

    def add(self, names, weight):
        for i, name in enumerate(names):
            if matches(name, self.wanted):
                self.chains[tuple(short for short, _ in names[i + 1:i + 1 + self.depth])] += weight
                self.total += weight
                return


def tally(events, event_type="jdk.ExecutionSample", callers=None):
    """(samples, truncated samples, total weight, self weight per frame,
    inclusive weight per frame) over executor-thread events of
    `event_type`. A CPU sample weighs 1, an allocation sample its bytes.
    A `Callers` given as `callers` is fed each sample in the same pass."""
    thread_field = THREAD_FIELD[event_type]
    samples = truncated = total = 0
    self_n = collections.Counter()
    incl_n = collections.Counter()
    for ev in events:
        if ev.get("type") != event_type:
            continue
        v = ev.get("values", {})
        thread = (v.get(thread_field) or {}).get("javaName") or ""
        if not thread.startswith(EXECUTOR_THREADS):
            continue
        stack = v.get("stackTrace") or {}
        frames = stack.get("frames") or []
        if not frames:
            continue
        w = int(v.get("weight", 0)) if event_type == "jdk.ObjectAllocationSample" else 1
        samples += 1
        truncated += bool(stack.get("truncated"))
        total += w
        names = [frame_name(f) for f in frames]
        self_n[names[0]] += w
        for name in set(names):
            incl_n[name] += w
        if callers:
            callers.add(names, w)
    return samples, truncated, total, self_n, incl_n


def within(events, wanted):
    """The events whose stack holds a frame that `wanted` names."""
    for ev in events:
        frames = ((ev.get("values") or {}).get("stackTrace") or {}).get("frames") or []
        if any(matches(frame_name(f), wanted) for f in frames):
            yield ev


def matches(name, wanted):
    """True when `wanted` names the frame; a Scala object's methods (class
    `Name$`) answer to `Name.method` too."""
    return any(wanted == n or n.endswith("." + wanted)
               for n in name + tuple(x.replace("$.", ".") for x in name))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dump", help="output of jfr print --json --stack-depth 64")
    ap.add_argument("--alloc", action="store_true",
                    help="weigh jdk.ObjectAllocationSample bytes instead of counting CPU samples")
    ap.add_argument("--method", action="append", default=[],
                    help="Class.method (simple or qualified class name) to report")
    ap.add_argument("--within", metavar="CLASS.METHOD",
                    help="keep only samples whose stack holds this frame")
    ap.add_argument("--callers", metavar="CLASS.METHOD",
                    help="print the top chains of frames that call this frame")
    ap.add_argument("--depth", type=int, default=3,
                    help="frames per caller chain (default 3)")
    a = ap.parse_args(argv)
    if a.depth < 1:
        ap.error("--depth must be at least 1")
    event_type = "jdk.ObjectAllocationSample" if a.alloc else "jdk.ExecutionSample"
    callers = Callers(a.callers, a.depth) if a.callers else None
    with open(a.dump) as f:
        events = read_events(f)
        if a.within:
            events = within(events, a.within)
        samples, truncated, total, self_n, incl_n = tally(events, event_type, callers)
    where = "executor task threads" + (f", within {a.within}" if a.within else "")
    if total == 0:
        print(f"no {event_type} events ({where})", file=sys.stderr)
        return 1
    what = "allocated bytes" if a.alloc else "CPU samples"
    if a.alloc:
        print(f"allocated: {total} B in {samples} samples ({where})")
    else:
        print(f"samples: {samples} ({where})")
    print(f"truncated stacks: {100.0 * truncated / samples:.1f} %")
    for title, counts in (("self", self_n), ("inclusive", incl_n)):
        print(f"\ntop {TOP} by {title} share of {what}")
        for (short, _), n in counts.most_common(TOP):
            print(f"{100.0 * n / total:6.1f} %  {n:12d}  {short}")
    if a.method:
        print("\nrequested methods (self / inclusive)")
        for wanted in a.method:
            s = sum(n for k, n in self_n.items() if matches(k, wanted))
            i = max([n for k, n in incl_n.items() if matches(k, wanted)], default=0)
            print(f"{100.0 * s / total:6.1f} % / {100.0 * i / total:6.1f} %  {wanted}")
    if callers:
        print(f"\ntop {TOP} caller chains of {callers.wanted} (depth {callers.depth}), "
              f"share of its {what} / of all")
        for chain, n in callers.chains.most_common(TOP):
            print(f"{100.0 * n / callers.total:6.1f} % / {100.0 * n / total:6.1f} %  "
                  + (" <- ".join(chain) or "(no caller on the stack)"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
