"""End-to-end benchmark of the ClinVar pipeline CLIs and a curation-board
slice, with an optional traced run that splits the time by layer.

    python3 perfbench/run.py --workload clinvar_bootstrap --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run builds the program (sbt)
and the benchmark's probe classes (javac) under perfbench/.work; every
input is generated from --seed under the same directory.  The last line of
stdout is one JSON object: correct, attempted, failed, metrics.  See
perfbench/README.md for the workloads and the metrics.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("clinvar_bootstrap", "curation_board")
RECORDS = 1000
CPUS = os.cpu_count() or 4
HEAP = "4g"
# Spark's default spark.sql.files.maxPartitionBytes: the scan split size
SPLIT_BYTES = 128 * 1024 * 1024
CLI = {
    "load": ("graft.pipelines.LoadMain", "pipelines.load"),
    "annotate": ("graft.pipelines.AnnotateMain", "pipelines.annotate"),
    "vcf": ("graft.pipelines.Clinvar2VcfMain", "pipelines.vcf"),
    "rsid": ("graft.pipelines.VariantRsIdMain", "pipelines.rsid"),
    "dupterm": ("graft.pipelines.DupTermQcMain", "pipelines.dupterm"),
}
READY = re.compile(r"^(\d{13}) INFO BlockManager: Initialized BlockManager")


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# --- build --------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "probe/src/**/*.java"), recursive=True)
                   + [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program with sbt and the probe classes with javac, once
    per source state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        raise SystemExit("perfbench: no build.sbt/src at %s; run from the root of a checkout" % ROOT)
    out = os.path.join(WORK, "build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp and os.path.isfile(cp_file):
        return open(cp_file).read()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL)
    classes = os.path.join(ROOT, "target")
    lines = [l for l in p.stdout.splitlines() if l.startswith(classes)]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    probe = os.path.join(out, "probe")
    q = subprocess.run(["bash", os.path.join(HERE, "probe", "build.sh"), cp, probe],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if q.returncode != 0:
        sys.stderr.write(q.stdout[-4000:])
        raise SystemExit("perfbench: probe build failed")
    cp = probe + os.pathsep + cp
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jvm_flags():
    """The forked-run JVM options of build.sbt: the JDK 17 add-opens list
    and its -D settings."""
    src = open(os.path.join(ROOT, "build.sbt")).read()
    flags = ["--add-opens=%s=ALL-UNNAMED" % p for p in re.findall(r'"(java\.base/[^"]+)"', src)]
    flags += re.findall(r'"(-D[^"$]+)"', src)
    return flags


# --- one JVM ---------------------------------------------------------------------

class Jvm:
    """One JVM process: wall time, peak RSS, stdout and stderr."""

    def __init__(self, cp, main, args, name, props=()):
        self.name = name
        logs, tmp = os.path.join(WORK, "logs"), os.path.join(WORK, "tmp")
        os.makedirs(logs, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # a fixed heap (-Xms = -Xmx): no heap-resizing collections during the
        # cold start every pass measures
        cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData"] + jvm_flags() + [
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + list(props)
        cmd += ["-cp", cp, main] + list(args)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
        env.pop("SPARK_MASTER", None)
        self.out_path, self.err_path = os.path.join(logs, name + ".out"), os.path.join(logs, name + ".err")
        with open(self.out_path, "w") as out, open(self.err_path, "w") as err:
            self.start = time.time()
            proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=out, stderr=err, stdin=subprocess.DEVNULL)
            _, status, usage = os.wait4(proc.pid, 0)
            self.end = time.time()
        self.code = os.waitstatus_to_exitcode(status)
        self.wall = self.end - self.start
        self.rss_mb = usage.ru_maxrss / 1024.0
        self.cpu_s = usage.ru_utime + usage.ru_stime
        self.stdout = open(self.out_path).read()
        with open(self.err_path) as f:
            self.ready = [int(m.group(1)) / 1000.0 for m in map(READY.match, f) if m]
        if self.code != 0:
            log("%s exited %d; see %s" % (name, self.code, self.err_path))


TRACE_PROPS = ["-Dspark.extraListeners=perfbench.TraceListener",
               "-Dspark.sql.queryExecutionListeners=perfbench.TraceListener"]
MARK = re.compile(r"^@@perfbench (\S+) (start|end) (\d+)(?: (\w+))?$")


class Step:
    def __init__(self, name, layer):
        self.name, self.layer = name, layer
        self.start = self.end = self.ready = None
        self.status, self.lines = "missing", []
        self.trace_out = None

    @property
    def wall(self):
        return self.end - self.start if self.end else 0.0


def host(cp, tag, steps, trace=False):
    """Run CLI steps [(name, args)] one after the other in one JVM
    (perfbench.PipelineHost); returns the JVM and its Steps."""
    argv, out = [], []
    for name, args in steps:
        main, layer = CLI[name]
        argv += (["--"] if argv else []) + [name, layer, main] + list(args)
        out.append(Step(name, layer))
    props = []
    if trace:
        prefix = os.path.join(WORK, "logs", tag + ".trace")
        for f in glob.glob(prefix + ".*.json"):
            os.remove(f)
        props = TRACE_PROPS + ["-Dperfbench.trace=" + prefix]
        for s in out:
            s.trace_out = "%s.%s.json" % (prefix, s.name)
    j = Jvm(cp, "perfbench.PipelineHost", argv, tag, props)
    by_name, cur = {s.name: s for s in out}, None
    for line in j.stdout.splitlines():
        m = MARK.match(line)
        if m:
            cur = by_name[m.group(1)]
            if m.group(2) == "start":
                cur.start = int(m.group(3)) / 1000.0
            else:
                cur.end, cur.status, cur = int(m.group(3)) / 1000.0, m.group(4), None
        elif cur is not None:
            cur.lines.append(line)
    for s in out:
        s.stdout = "\n".join(s.lines)
        if s.start is not None:
            s.ready = next((r for r in j.ready if r >= s.start - 1e-3 and (s.end is None or r <= s.end)), None)
    return j, out


# --- inputs ---------------------------------------------------------------------

def inputs(seed, records):
    """The generated release, dims and truth for a seed (cached per seed and
    generator version)."""
    version = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", "seed%d-n%d-%s" % (seed, records, version))
    truth = os.path.join(d, "truth.json")
    if not os.path.isfile(truth):
        for old in glob.glob(os.path.join(WORK, "data", "*")):
            shutil.rmtree(old, ignore_errors=True)
        log("generating inputs (seed %d, %d records)" % (seed, records))
        gen.generate(d + ".tmp", seed, records)
        os.rename(d + ".tmp", d)
    return d, json.load(open(truth))


def scan_splits(nbytes, open_cost=4 * 1024 * 1024):
    """Splits of one splittable file, as Spark's FilePartition sizes them."""
    split = min(SPLIT_BYTES, max(open_cost, (nbytes + open_cost) // CPUS))
    return math.ceil(nbytes / split)


def input_sizes(d, truth):
    v1 = os.path.getsize(os.path.join(d, "v1.xml"))
    return {"records": truth["records"], "xml_bytes": v1, "max_partition_bytes": SPLIT_BYTES,
            "scan_splits": scan_splits(v1)}


# --- clinvar workload ----------------------------------------------------------------

def file_sizes(store):
    return [os.path.getsize(os.path.join(dirpath, f)) for dirpath, _, files in os.walk(store) for f in files]


def clinvar_steps(d, store):
    dims, vmap, vcf_out = os.path.join(d, "dims"), os.path.join(d, "variant_map.parquet"), os.path.join(WORK, "vcf")
    shutil.rmtree(vcf_out, ignore_errors=True)
    return [("load", [os.path.join(d, "v1.xml"), store]), ("annotate", [store, dims]),
            ("vcf", [store, vcf_out]), ("rsid", [store, vmap]),
            ("dupterm", [os.path.join(d, "dupterms.parquet")])]


def check_steps(ops, tag, truth, steps):
    expect, digests = truth["clinvar_bootstrap"], {}
    for s in steps:
        name = "%s.%s" % (tag, s.name)
        ops.check(name + ".exit", s.status == "ok", s.status)
        if s.name in ("load", "annotate"):
            checks.check_counters(ops, name, checks.parse_counters(s.stdout, s.name), expect[s.name])
        elif s.name == "vcf":
            digests["vcf"] = checks.check_vcf(ops, name, s.stdout, expect["vcf_lines"])
        elif s.name == "rsid":
            checks.check_total(ops, name, checks.RSID_TOTAL, s.stdout, expect["rsid_updates"])
        elif s.name == "dupterm":
            checks.check_total(ops, name, checks.DUPTERM_TOTAL, s.stdout, expect["dupterm_rows"])
    return digests


def geomean(xs):
    xs = [x for x in xs if x and x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def clinvar_metrics(j, steps):
    first_ready = j.ready[0] if j.ready else j.start
    return {
        "setup_s": first_ready - j.start,
        "run_s": (steps[-1].end or j.end) - first_ready,
        "step_geomean_s": geomean([s.wall for s in steps]),
    }


def untraced_runs(workload, key, config):
    """A figure of this checkout's untraced run records made with the same
    configuration."""
    vals = []
    for p in glob.glob(os.path.join(WORK, "records", "%s-seed*-trace0.json" % workload)):
        r = json.load(open(p))
        v = r.get("result", {}).get("metrics", {}).get(key, {}).get("value")
        if v and r.get("config") == config:
            vals.append(v)
    return vals


def run_clinvar(cp, seed, trace, records):
    """One pass of the five CLIs against an empty store.  A pass takes about
    a minute, longer than --seconds, so a run is exactly one pass."""
    ops = checks.Ops()
    d, truth = inputs(seed, records)
    record = {"inputs": input_sizes(d, truth), "config": {"records": records}}
    store = os.path.join(WORK, "store")
    shutil.rmtree(store, ignore_errors=True)
    tag = "t" if trace else "p"
    j, steps = host(cp, tag, clinvar_steps(d, store), trace)
    ops.check(tag + ".jvm.exit", j.code == 0, "exit %d" % j.code)
    digests = check_steps(ops, tag, truth, steps)
    digests["audit"] = checks.audit_digest(store)
    check_seed_digests(ops, "clinvar_bootstrap", seed, records, digests)
    sizes = file_sizes(store)
    facts = {"store_mb": sum(sizes) / 1e6, "files_written": sum(1 for n in sizes if n > 0)}
    metrics = clinvar_metrics(j, steps)
    if trace:
        untraced = untraced_runs("clinvar_bootstrap", "run_s", record["config"])
        lay = layers.clinvar_layers(j, steps, facts, truth, CPUS, metrics, untraced)
        ops.check("trace.spans", not lay["missing"], str(lay["missing"]))
        ops.check("trace.self_times_sum", abs(lay["sum_check"]) < 1e-6, str(lay["sum_check"]))
        record["trace"] = lay["record"]
        metrics = lay["metrics"]
    record.update({"cli_wall_s": {s.name: s.wall for s in steps},
                   "cli_startup_s": {s.name: (s.ready - s.start) if s.ready else None for s in steps},
                   "jvm_wall_s": j.wall, "jvm_cpu_s": j.cpu_s, "facts": facts, "digests": digests})
    return ops, metrics, record


def check_seed_digests(ops, workload, seed, records, digests):
    """Outputs of an earlier run on the same seed in this checkout must be
    identical to this run's."""
    p = os.path.join(WORK, "digests", "%s-seed%d-n%d.json" % (workload, seed, records))
    if os.path.isfile(p):
        checks.check_digests(ops, "seed_digests", json.load(open(p)), digests)
    else:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            json.dump(digests, f)


# --- curation board -----------------------------------------------------------------

def board_table_dir():
    """The tables graft.Bench times: $SPARK_GRAFT_SF_DIR or Bench's default."""
    src = open(os.path.join(ROOT, "src/main/scala/graft/Bench.scala")).read()
    sf = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src)
    if not sf:
        raise SystemExit("perfbench: cannot read the board's table dir from Bench.scala")
    return os.environ.get("SPARK_GRAFT_SF_DIR", sf.group(1))


def board_pass(cp, ops, golden, tag, queries, seconds, trace=False):
    out = os.path.join(WORK, "logs", tag + ".board.json")
    tout = os.path.join(WORK, "logs", tag + ".board.trace.json") if trace else None
    for p in (out, tout):
        if p and os.path.exists(p):
            os.remove(p)
    props = TRACE_PROPS + ["-Dperfbench.layer=board", "-Dperfbench.trace.out=" + tout] if trace else []
    j = Jvm(cp, "perfbench.BoardMain", [board_table_dir(), ",".join(queries), out, str(seconds)],
            tag + "-board", props)
    j.trace_out = tout
    ops.check(tag + ".board.exit", j.code == 0 and os.path.isfile(out), "exit %d" % j.code)
    res = json.load(open(out)) if os.path.isfile(out) else {"queries": {}}
    checks.check_board(ops, res["queries"], {q: golden[q] for q in queries})
    return j, res


def board_metrics(j, res, queries):
    qs = res["queries"]
    times = [qs[q]["s"] for q in queries if qs.get(q, {}).get("ok")]
    return {
        "setup_s": res["warm_end_ms"] / 1000.0 - j.start if "warm_end_ms" in res else 0.0,
        "run_s": sum(times),
        "step_geomean_s": geomean(times),
    }


def run_board(cp, seconds, trace, queries):
    ops = checks.Ops()
    golden = json.load(open(os.path.join(HERE, "golden_board.json")))
    checks.check_conf_drift(ops, open(os.path.join(ROOT, "src/main/scala/graft/Bench.scala")).read(),
                            open(os.path.join(HERE, "probe/src/perfbench/BoardMain.java")).read())
    j, res = board_pass(cp, ops, golden, "t" if trace else "b", queries, seconds, trace)
    metrics = board_metrics(j, res, queries)
    record = {"queries": res["queries"], "warmup_s": res.get("warmup_s"), "passes": res.get("passes"),
              "jvm_wall_s": j.wall, "jvm_cpu_s": j.cpu_s,
              "inputs": {"sf": board_table_dir()}, "config": {"queries": queries}}
    if trace:
        untraced = untraced_runs("curation_board", "run_s", record["config"])
        lay = layers.board_layers(j, res, metrics, untraced, CPUS)
        ops.check("trace.spans", not lay["missing"], str(lay["missing"]))
        ops.check("trace.self_times_sum", abs(lay["sum_check"]) < 1e-6, str(lay["sum_check"]))
        record["trace"] = lay["record"]
        metrics = lay["metrics"]
    return ops, metrics, record


# --- main ---------------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description="ClinVar pipeline + curation-board benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    t0 = time.time()
    if a.workload == "curation_board":
        ops, metrics, record = run_board(cp, a.seconds, a.trace == 1, layers.BOARD)
    else:
        ops, metrics, record = run_clinvar(cp, a.seed, a.trace == 1, RECORDS)
    for f in ops.failures:
        log("FAILED " + f)
    units = layers.UNITS
    result = {"correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    record.update({"workload": a.workload, "seed": a.seed, "traced": a.trace == 1, "cpus": CPUS,
                   "elapsed_s": time.time() - t0, "result": result, "failures": ops.failures})
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
