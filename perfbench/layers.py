"""Per-layer attribution of a traced run.

Each traced Spark application (a CLI step, or the board run) writes the
stages, planning phases and Spark conf its TraceListener saw
(probe/src/perfbench/TraceListener.java).  The traced JVM is a span from
launch to exit with one child span per application, and its wall time is
split exactly: time inside running stages goes to the stages' layers
(shared equally when stages of several layers overlap), time before a
SparkContext is up and time spent planning goes to `spark`, and the rest
is `unattributed`.  Layer self times plus unattributed time therefore add
up to the traced wall time.
"""

import json
import os
import statistics

LAYERS = ["spark", "ingest", "pipelines.load", "ops.SnapshotStore", "pipelines.annotate", "pipelines.vcf",
          "pipelines.rsid", "pipelines.dupterm", "board", "board.warmup"]
# the curation-board slice the benchmark times (see README.md for why these)
BOARD = ["q20_minhash", "q02_diff_sync"]

END_TO_END = {"setup_s": "s", "run_s": "s", "step_geomean_s": "s"}
PER_LAYER = {}
for _name in ["ingest.records", "ingest.ok_frac", "ingest.scans", "ingest.tasks", "ingest.busy_s", "ingest.wall_s",
              "ingest.us_per_record",
              "load.busy_s", "load.wall_s", "load.stages", "load.shuffle_mb", "load.spill_mb", "load.insert",
              "load.update", "load.delete", "load.match", "load.keep_stale",
              "store.wall_s", "store.written_mb", "store.files_written", "store.live_mb", "jvm.peak_rss_mb",
              "annotate.busy_s", "annotate.wall_s", "annotate.shuffle_mb", "annotate.insert", "annotate.delete",
              "annotate.match",
              "vcf.busy_s", "vcf.wall_s", "vcf.jobs", "vcf.lines", "rsid.wall_s", "rsid.updates", "dupterm.wall_s",
              "cli.load_s", "cli.annotate_s", "cli.vcf_s", "cli.rsid_s", "cli.dupterm_s",
              "spark.startup_s", "spark.plan_s", "spark.exec_busy_s", "spark.cpu_s", "spark.gc_s",
              "spark.driver_gap_s", "spark.busy_share", "spark.stages", "spark.tasks", "spark.shuffle_mb",
              "spark.spill_mb", "spark.codegen_compiles", "spark.codegen_compile_s"] \
        + ["self.%s_s" % l for l in LAYERS] + ["trace.wall_s", "trace.unattributed_s", "trace.listener_s",
                                                  "trace.overhead_s", "trace.overhead_refs"] \
        + ["board.%s_s" % q for q in BOARD]:
    if _name.endswith("_s"):
        PER_LAYER[_name] = "s"
    elif _name.endswith("_mb"):
        PER_LAYER[_name] = "MB"
    elif _name in ("ingest.ok_frac", "spark.busy_share"):
        PER_LAYER[_name] = "ratio"
    elif _name == "ingest.us_per_record":
        PER_LAYER[_name] = "us"
    else:
        PER_LAYER[_name] = "count"
UNITS = dict(END_TO_END, **PER_LAYER)


# per-JVM conf entries that identify a run rather than configure it
CONF_NOISE = ("spark.app.id", "spark.app.name", "spark.app.startTime", "spark.driver.host", "spark.driver.port",
              "spark.executor.id", "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")


def load(path):
    if path and os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    return None


def union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def sweep(t0, t1, ready, stages, plans):
    """Split [t0, t1] (seconds) into layer self times plus unattributed time."""
    pts = {t0, t1, min(max(ready, t0), t1)}
    for s in stages:
        pts.update((min(max(s["a"], t0), t1), min(max(s["b"], t0), t1)))
    for a, b in plans:
        pts.update((min(max(a, t0), t1), min(max(b, t0), t1)))
    pts = sorted(pts)
    self_s = {l: 0.0 for l in LAYERS}
    unattributed = 0.0
    for a, b in zip(pts, pts[1:]):
        mid, dt = (a + b) / 2, b - a
        running = sorted({s["layer"] for s in stages if s["a"] <= mid < s["b"]})
        if running:
            for l in running:
                self_s[l] = self_s.get(l, 0.0) + dt / len(running)
        elif mid < ready or any(pa <= mid < pb for pa, pb in plans):
            self_s["spark"] += dt
        else:
            unattributed += dt
    return self_s, unattributed


def stages_of(tr):
    out = []
    for s in tr["stages"]:
        if s["start_ms"] > 0 and s["end_ms"] >= s["start_ms"]:
            out.append(dict(s, a=s["start_ms"] / 1000.0, b=s["end_ms"] / 1000.0))
    return out


def agg(stages):
    return {
        "busy_s": sum(s.get("run_ms", 0) for s in stages) / 1000.0,
        "wall_s": union([(s["a"], s["b"]) for s in stages]),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "shuffle_mb": sum(s.get("shuffle_write_b", 0) for s in stages) / 1e6,
        "spill_mb": sum(s.get("spill_b", 0) for s in stages) / 1e6,
        "cpu_s": sum(s.get("cpu_ns", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("gc_ms", 0) for s in stages) / 1000.0,
        "written_mb": sum(s.get("output_b", 0) for s in stages) / 1e6,
    }


class Spans:
    """A traced JVM as a span with one child span per CLI step (or per
    board query), its stages, self times and Spark totals."""

    def __init__(self, jvm, cpus):
        self.jvm, self.cpus = jvm, cpus
        self.children, self.stages, self.missing = [], [], []
        self.self_s = {l: 0.0 for l in LAYERS}
        self.unattributed = 0.0
        self.spark = {"startup_s": 0.0, "plan_s": 0.0, "driver_gap_s": 0.0, "post_ready_s": 0.0,
                      "codegen_compiles": 0, "codegen_compile_s": 0.0, "jobs": 0, "listener_s": 0.0}
        self.covered = []

    def add(self, name, layer, start, end, trace_out, boot=None, children=()):
        """One application (a CLI step, or the board JVM) from `start` to
        `end`; `boot` is when its JVM was launched, if it started one."""
        tr = load(trace_out)
        if tr is None or start is None or end is None:
            self.missing.append(name)
            return None
        stages = stages_of(tr)
        plans = [(p["start_ms"] / 1000.0, p["end_ms"] / 1000.0) for p in tr["plans"]]
        ready = tr["ready_ms"] / 1000.0 if tr["ready_ms"] > 0 else start
        t0 = boot if boot is not None else start
        self_s, unattributed = sweep(t0, end, ready, stages, plans)
        for l, v in self_s.items():
            self.self_s[l] = self.self_s.get(l, 0.0) + v
        self.unattributed += unattributed
        self.covered.append((t0, end))
        self.stages += stages
        busy_wall = union([(max(s["a"], ready), s["b"]) for s in stages if s["b"] > ready])
        sp = self.spark
        sp["startup_s"] += ready - t0
        sp["plan_s"] += sum(p["ms"] for p in tr["plans"]) / 1000.0
        sp["driver_gap_s"] += (end - ready) - busy_wall
        sp["post_ready_s"] += end - ready
        sp["codegen_compiles"] += tr["codegen_compiles"]
        sp["codegen_compile_s"] += tr["codegen_ms"] / 1000.0
        sp["jobs"] += tr["jobs"]
        sp["listener_s"] += tr["listener_ms"] / 1000.0
        span = {"name": name, "layer": layer, "start": t0, "end": end, "wall_s": end - t0, "ready": ready,
                "self_s": self_s, "unattributed_s": unattributed, "jobs": tr["jobs"], "stages": len(stages),
                "conf": {k: v for k, v in tr["conf"].items() if k not in CONF_NOISE}, "children": list(children)}
        self.children.append(span)
        return span

    def close(self):
        """Whatever JVM time no application covers (between steps, after the
        last one) is unattributed."""
        gaps = (self.jvm.end - self.jvm.start) - union(self.covered)
        self.unattributed += gaps
        return gaps

    def layer(self, name):
        return agg([s for s in self.stages if s["layer"] == name])

    def sum_check(self):
        return (self.jvm.end - self.jvm.start) - (sum(self.self_s.values()) + self.unattributed)

    def metrics(self):
        a = agg(self.stages)
        sp = self.spark
        m = {
            "spark.startup_s": sp["startup_s"], "spark.plan_s": sp["plan_s"], "spark.exec_busy_s": a["busy_s"],
            "spark.cpu_s": a["cpu_s"], "spark.gc_s": a["gc_s"], "spark.driver_gap_s": sp["driver_gap_s"],
            "spark.busy_share": a["busy_s"] / (sp["post_ready_s"] * self.cpus) if sp["post_ready_s"] else 0.0,
            "spark.stages": a["stages"], "spark.tasks": a["tasks"], "spark.shuffle_mb": a["shuffle_mb"],
            "spark.spill_mb": a["spill_mb"], "spark.codegen_compiles": sp["codegen_compiles"],
            "spark.codegen_compile_s": sp["codegen_compile_s"],
            "trace.wall_s": self.jvm.end - self.jvm.start, "trace.unattributed_s": self.unattributed,
            "trace.listener_s": sp["listener_s"],
        }
        for l in LAYERS:
            m["self.%s_s" % l] = self.self_s.get(l, 0.0)
        return m

    def record(self, overhead):
        return dict(overhead, jvm={"name": self.jvm.name, "start": self.jvm.start, "end": self.jvm.end,
                                   "wall_s": self.jvm.end - self.jvm.start, "rss_mb": self.jvm.rss_mb},
                    spans=self.children, missing=self.missing, self_s=self.self_s,
                    unattributed_s=self.unattributed, listener_s=self.spark["listener_s"])


def overhead(traced_run_s, untraced_run_s):
    """Tracing overhead: the traced run_s minus the median untraced run_s of
    this checkout's run records, over `refs` of them (0 = none yet, and
    the overhead reads 0)."""
    ref = statistics.median(untraced_run_s) if untraced_run_s else None
    return {"traced_run_s": traced_run_s, "untraced_run_s": ref, "refs": len(untraced_run_s),
            "overhead_s": traced_run_s - ref if ref is not None else 0.0}


def finish(spans, m, e2e, untraced_run_s):
    o = overhead(e2e["run_s"], untraced_run_s)
    m["jvm.peak_rss_mb"] = spans.jvm.rss_mb
    m["trace.overhead_s"], m["trace.overhead_refs"] = o["overhead_s"], o["refs"]
    return {"metrics": m, "record": spans.record(o), "sum_check": spans.sum_check(), "missing": spans.missing}


def actions(counters):
    out = {}
    for k, v in counters.items():
        act = k.split(".")[-1]
        out[act] = out.get(act, 0) + v
    return out


def last_int(pattern, text):
    val = 0
    for line in text.splitlines():
        m = pattern.match(line.strip())
        val = int(m.group(1)) if m else val
    return val


def clinvar_layers(jvm, steps, facts, truth, cpus, e2e, untraced_run_s):
    from checks import parse_counters, VCF_WROTE, RSID_TOTAL

    spans = Spans(jvm, cpus)
    for i, s in enumerate(steps):
        spans.add(s.name, s.layer, s.start, s.end, s.trace_out, boot=jvm.start if i == 0 else None)
    spans.close()
    by = {s.name: s for s in steps}
    m = {k: 0.0 for k in PER_LAYER}
    m.update(spans.metrics())
    records = sum(truth["parse_status"].values())
    load = parse_counters(by["load"].stdout, "load")
    ok = sum(v for k, v in load.items() if k.startswith("variants.") and not k.endswith(".delete"))
    ing = spans.layer("ingest")
    m.update({"ingest.records": records, "ingest.ok_frac": ok / records, "ingest.scans": ing["stages"],
              "ingest.tasks": ing["tasks"], "ingest.busy_s": ing["busy_s"], "ingest.wall_s": ing["wall_s"],
              "ingest.us_per_record": ing["busy_s"] * 1e6 / records})
    ld = spans.layer("pipelines.load")
    m.update({"load.busy_s": ld["busy_s"], "load.wall_s": ld["wall_s"], "load.stages": ld["stages"],
              "load.shuffle_mb": ld["shuffle_mb"], "load.spill_mb": ld["spill_mb"]})
    for act, n in actions(load).items():
        m["load." + act] = n
    st = spans.layer("ops.SnapshotStore")
    m.update({"store.wall_s": st["wall_s"], "store.written_mb": st["written_mb"],
              "store.files_written": facts["files_written"], "store.live_mb": facts["store_mb"]})
    an, an_acts = spans.layer("pipelines.annotate"), actions(parse_counters(by["annotate"].stdout, "annotate"))
    m.update({"annotate.busy_s": an["busy_s"], "annotate.wall_s": an["wall_s"], "annotate.shuffle_mb": an["shuffle_mb"],
              "annotate.insert": an_acts.get("insert", 0), "annotate.delete": an_acts.get("delete", 0),
              "annotate.match": an_acts.get("match", 0)})
    vc = spans.layer("pipelines.vcf")
    vcf_span = [c for c in spans.children if c["name"] == "vcf"]
    m.update({"vcf.busy_s": vc["busy_s"], "vcf.wall_s": vc["wall_s"],
              "vcf.jobs": vcf_span[0]["jobs"] if vcf_span else 0,
              "vcf.lines": last_int(VCF_WROTE, by["vcf"].stdout)})
    m.update({"rsid.wall_s": spans.layer("pipelines.rsid")["wall_s"],
              "rsid.updates": last_int(RSID_TOTAL, by["rsid"].stdout),
              "dupterm.wall_s": spans.layer("pipelines.dupterm")["wall_s"]})
    for s in steps:
        m["cli.%s_s" % s.name] = s.wall
    return finish(spans, m, e2e, untraced_run_s)


def board_layers(jvm, res, e2e, untraced_run_s, cpus):
    spans = Spans(jvm, cpus)
    qspans = [{"name": q, "layer": "board", "start": r["start_ms"] / 1000.0, "end": r["end_ms"] / 1000.0,
               "wall_s": r["s"]} for q, v in res.get("queries", {}).items() if v.get("ok") for r in v["runs"]]
    spans.add("board", "board", jvm.start, res["end_ms"] / 1000.0 if "end_ms" in res else None, jvm.trace_out,
              boot=jvm.start, children=qspans)
    spans.close()
    m = {k: 0.0 for k in PER_LAYER}
    m.update(spans.metrics())
    for q, v in res.get("queries", {}).items():
        if v.get("ok") and "board.%s_s" % q in m:
            m["board.%s_s" % q] = v["s"]
    return finish(spans, m, e2e, untraced_run_s)
