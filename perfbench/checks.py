"""Output checks of the benchmark.  Every check is one operation: it counts
as attempted, and as failed when the program's output is wrong.  The
failed/attempted pair is what run.py reports; selftest.py feeds each check
a wrong value and expects a failure."""

import hashlib
import os
import re

import duckdb


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def check(self, name, ok, detail=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append("%s: %s" % (name, detail))
        return ok


COUNTER = re.compile(r"^\[(\w+)\] ([\w.]+): (-?\d+)$")


def parse_counters(stdout, tag):
    """`[load] variants.insert: 12` lines of one CLI's stdout -> dict."""
    out = {}
    for line in stdout.splitlines():
        m = COUNTER.match(line.strip())
        if m and m.group(1) == tag:
            out[m.group(2)] = int(m.group(3))
    return out


def check_counters(ops, name, printed, expected):
    """Every expected counter, and no unexpected one, with its exact value."""
    for k in sorted(set(printed) | set(expected)):
        ops.check("%s.%s" % (name, k), printed.get(k, 0) == expected.get(k, 0),
                  "printed %s, expected %s" % (printed.get(k, 0), expected.get(k, 0)))


VCF_WROTE = re.compile(r"^\[vcf\] wrote (\d+) body lines to (.+)$")


def check_vcf(ops, name, stdout, expected_lines):
    """The printed count, the file's body and the truth agree; returns the
    file's digest (or None)."""
    m = None
    for line in stdout.splitlines():
        m = VCF_WROTE.match(line.strip()) or m
    if not ops.check(name + ".printed", m is not None, "no [vcf] line"):
        return None
    printed, path = int(m.group(1)), m.group(2)
    ops.check(name + ".lines", printed == expected_lines, "printed %d, expected %d" % (printed, expected_lines))
    if not ops.check(name + ".file", os.path.isfile(path), path):
        return None
    with open(path, "rb") as f:
        data = f.read()
    body = [l for l in data.decode().splitlines() if l and not l.startswith("#")]
    ops.check(name + ".body", len(body) == printed and data.startswith(b"##fileformat=VCF"),
              "%d body lines in file, %d printed" % (len(body), printed))
    return hashlib.sha256(data).hexdigest()


RSID_TOTAL = re.compile(r"^\[rsid\] total updates: (\d+)$")
DUPTERM_TOTAL = re.compile(r"^\[dupterm\] duplicate rows: (\d+)$")


def check_total(ops, name, pattern, stdout, expected):
    got = None
    for line in stdout.splitlines():
        m = pattern.match(line.strip())
        if m:
            got = int(m.group(1))
    ops.check(name, got == expected, "printed %s, expected %s" % (got, expected))
    return got


def audit_digest(store):
    """Order-independent digest of every audit table under a store."""
    audit = os.path.join(store, "audit")
    if not os.path.isdir(audit):
        return None
    con = duckdb.connect()
    parts = []
    for table in sorted(os.listdir(audit)):
        files = os.path.join(audit, table, "*.parquet")
        row = con.execute("SELECT count(*), sum(hash(COLUMNS(*))) FROM read_parquet('%s')" % files).fetchone()
        parts.append("%s=%s" % (table, row))
    con.close()
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def check_digests(ops, name, first, second):
    """Two executions on the same inputs wrote identical outputs."""
    for k in sorted(set(first) | set(second)):
        ops.check("%s.%s" % (name, k), first.get(k) is not None and first.get(k) == second.get(k),
                  "%s vs %s" % (first.get(k), second.get(k)))


def check_board(ops, result, golden):
    """Each query ran, and its row count and full-row hash match the golden set."""
    for q in sorted(golden):
        r = result.get(q, {})
        g = golden[q]
        ops.check("board." + q, r.get("ok") is True and r.get("rows") == g["rows"] and r.get("hash") == g["hash"],
                  "got %s, golden %s" % ({k: r.get(k) for k in ("ok", "rows", "hash")}, g))


CONF_SCALA = re.compile(r'\.config\(\s*"([^"]+)"\s*,\s*("([^"]*)"|(\w+))\s*\)')
CONF_JAVA = re.compile(r'\{\s*"([^"]+)"\s*,\s*"([^"]*)"\s*\}')


def bench_confs(scala_source):
    """The `.config(k, v)` pairs of Bench.scala; a non-literal value reads `<name>`."""
    return [(m.group(1), m.group(3) if m.group(3) is not None else "<%s>" % m.group(4))
            for m in CONF_SCALA.finditer(scala_source)]


def board_confs(java_source):
    block = java_source.split("BENCH_CONFS = {", 1)[1].split("};", 1)[0]
    return [(m.group(1), m.group(2)) for m in CONF_JAVA.finditer(block)]


def check_conf_drift(ops, scala_source, java_source):
    a, b = bench_confs(scala_source), board_confs(java_source)
    ops.check("board.conf_drift", len(a) > 0 and a == b, "Bench.scala %s, board runner %s" % (a, b))
