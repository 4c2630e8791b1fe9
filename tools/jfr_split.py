#!/usr/bin/env python3
"""Split a JFR recording's main-thread samples in a time window by Spark
phase and by innermost `graft` call site.

    python3 tools/jfr_split.py <recording.jfr> <perfbench t.trace.<cli>.json> <from_s> <to_s>

The window is in seconds after the trace's `ready_ms` (the session's
BlockManager start). The tool first prints the trace's stage-free gaps of
0.5 s or more (`[gap] <from>-<to> s`), the windows worth splitting; with
an empty window (`from_s >= to_s`) it prints only those and reads no
samples.

Each `jdk.ExecutionSample` of the `main` thread is charged to one phase:
the first frame, innermost first, that belongs to class loading, codegen,
analysis, optimize, plan, encoders or scheduling (else `other`). It is
also charged to its innermost frame in that phase's code (`[frame]`, e.g.
which analyzer rule) and to its innermost `graft.` frame (`[site]`); the
12 largest of each are printed.

Stacks come from `jfr print --json --stack-depth 400`: the default depth
of 5 stops inside Spark and hides every `graft` frame.  Record with
`-XX:FlightRecorderOptions:stackdepth=1024
-XX:StartFlightRecording=filename=<f>.jfr,settings=profile`: the JVM
records only 64 frames by default, which cuts about half of Spark's
analysis stacks above their `graft` caller.  The JSON of a ~20 s
LoadMain run is ~80 MB; it is held whole as text and parsed one event at
a time.
"""
import argparse
import collections
import datetime
import json
import subprocess

PHASES = [
    ("class loading", ("java.lang.ClassLoader.", "jdk.internal.loader.", "java.lang.Class.forName",
                       "java.net.URLClassLoader.")),
    ("codegen", ("org.codehaus.janino.", "org.codehaus.commons.compiler.",
                 "org.apache.spark.sql.catalyst.expressions.codegen.")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.", "org.apache.spark.sql.execution.analysis.",
                  "org.apache.spark.sql.execution.QueryExecution.assertAnalyzed",
                  "org.apache.spark.sql.execution.QueryExecution.analyzed")),
    ("optimize", ("org.apache.spark.sql.catalyst.optimizer.", "org.apache.spark.sql.execution.SparkOptimizer",
                  "org.apache.spark.sql.execution.QueryExecution.optimizedPlan")),
    ("plan", ("org.apache.spark.sql.execution.SparkStrategies", "org.apache.spark.sql.execution.SparkPlanner",
              "org.apache.spark.sql.catalyst.planning.", "org.apache.spark.sql.execution.adaptive.",
              "org.apache.spark.sql.execution.QueryExecution.sparkPlan",
              "org.apache.spark.sql.execution.QueryExecution.executedPlan",
              "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution")),
    ("encoders", ("org.apache.spark.sql.catalyst.encoders.", "org.apache.spark.sql.catalyst.ScalaReflection",
                  "org.apache.spark.sql.catalyst.DeserializerBuildHelper",
                  "org.apache.spark.sql.catalyst.SerializerBuildHelper")),
    ("scheduling", ("org.apache.spark.scheduler.", "org.apache.spark.SparkContext.runJob")),
]


def epoch_s(iso):
    """'2026-10-20T08:48:37.309915436Z' -> epoch seconds (ns digits cut to us)."""
    head, _, frac = iso.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(head).replace(tzinfo=datetime.timezone.utc).timestamp()
    return t + (float("0." + frac) if frac else 0.0)


def samples(jfr):
    """The recording's execution samples: `jfr print`'s whole output, parsed one event at a time."""
    text = subprocess.run(["jfr", "print", "--json", "--stack-depth", "400", "--events", "jdk.ExecutionSample", jfr],
                          check=True, stdout=subprocess.PIPE, text=True).stdout
    dec, i = json.JSONDecoder(), text.find("[", text.find('"events"')) + 1
    while True:
        while text[i] in " \t\r\n,":
            i += 1
        if text[i] == "]":
            return
        ev, i = dec.raw_decode(text, i)
        yield ev["values"]


def frame_name(f):
    m = f["method"]
    return "%s.%s" % (m["type"]["name"].replace("/", "."), m["name"])


def classify(frames):
    """(phase, innermost frame of that phase) of one stack, innermost first."""
    for f in frames:
        name = frame_name(f)
        for phase, prefixes in PHASES:
            if name.startswith(prefixes):
                return phase, name
    return "other", None


def gaps(trace, min_s=0.5):
    """Stage-free intervals (s after ready) of a perfbench trace."""
    t0, out, busy_until = trace["ready_ms"], [], trace["ready_ms"]
    for s in sorted(trace["stages"], key=lambda s: s["start_ms"]):
        if s["start_ms"] - busy_until >= min_s * 1000:
            out.append((busy_until, s["start_ms"]))
        busy_until = max(busy_until, s["end_ms"])
    if trace["end_ms"] - busy_until >= min_s * 1000:
        out.append((busy_until, trace["end_ms"]))
    return [((a - t0) / 1000.0, (b - t0) / 1000.0) for a, b in out]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("trace", help="perfbench t.trace.<cli>.json: the window is relative to its ready_ms")
    ap.add_argument("from_s", type=float)
    ap.add_argument("to_s", type=float)
    a = ap.parse_args()

    trace = json.load(open(a.trace))
    for g0, g1 in gaps(trace):
        print("[gap] %.2f-%.2f s (%.2f s)" % (g0, g1, g1 - g0))
    if a.from_s >= a.to_s:
        return

    t0 = trace["ready_ms"] / 1000.0
    phases, frames, sites, n = collections.Counter(), collections.Counter(), collections.Counter(), 0
    for ev in samples(a.jfr):
        t = epoch_s(ev["startTime"]) - t0
        if not (a.from_s <= t < a.to_s) or (ev["sampledThread"] or {}).get("javaName") != "main":
            continue
        stack = ev["stackTrace"]["frames"]
        phase, frame = classify(stack)
        site = next(("%s:%d" % (frame_name(f), f["lineNumber"]) for f in stack
                     if frame_name(f).startswith("graft.")), "(no graft frame)")
        n += 1
        phases[phase] += 1
        frames["%s %s" % (phase, frame or "-")] += 1
        sites[site] += 1
    print("[jfr] %s thread=main window %.2f-%.2f s after ready: %d samples" % (a.jfr, a.from_s, a.to_s, n))
    for tag, counter in (("phase", phases), ("frame", frames), ("site", sites)):
        for k, c in counter.most_common(12 if tag != "phase" else None):
            print("[%s] %5d %5.1f%%  %s" % (tag, c, 100.0 * c / max(n, 1), k))

if __name__ == "__main__":
    main()
