"""Self-test of the benchmark's output checks: each check is fed the right
value (no failure) and then a wrong one (at least one failed operation).
Needs no build and no Spark.

    python3 perfbench/selftest.py
"""

import os
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

LOAD = "[load] variants.insert: 10\n[load] xdb_ids.insert: 40\n"
ANNOTATE = "[annotate] D.insert: 9\n[annotate] H.insert: 2\n"
VCF_BODY = "##fileformat=VCFv4.1\n#CHROM\tPOS\n1\t5\t.\tA\tG\t.\t.\tTSA=snv\n2\t9\t.\tC\tT\t.\t.\tTSA=snv\n"


def failed(fn):
    ops = checks.Ops()
    fn(ops)
    return ops.failed


def cases(tmp):
    vcf = os.path.join(tmp, "part-0.txt")
    with open(vcf, "w") as f:
        f.write(VCF_BODY)
    vcf_out = "[vcf] wrote 2 body lines to %s\n" % vcf
    bench = '.config("spark.sql.shuffle.partitions", cpus)\n.config("spark.ui.enabled", "false")\n'
    board = 'BENCH_CONFS = {\n {"spark.sql.shuffle.partitions", "<cpus>"},\n {"spark.ui.enabled", "false"},\n};'
    golden = {"q1": {"rows": 3, "hash": 77}}
    expected = {"variants.insert": 10, "xdb_ids.insert": 40}
    # (name, right, wrong)
    yield ("load counters",
           lambda o: checks.check_counters(o, "load", checks.parse_counters(LOAD, "load"), expected),
           lambda o: checks.check_counters(o, "load", checks.parse_counters(LOAD.replace("40", "41"), "load"),
                                           expected))
    yield ("load counter missing",
           lambda o: checks.check_counters(o, "load", checks.parse_counters(LOAD, "load"), expected),
           lambda o: checks.check_counters(o, "load", checks.parse_counters(LOAD.splitlines()[0], "load"),
                                           expected))
    yield ("annotate counters",
           lambda o: checks.check_counters(o, "annotate", checks.parse_counters(ANNOTATE, "annotate"),
                                           {"D.insert": 9, "H.insert": 2}),
           lambda o: checks.check_counters(o, "annotate", checks.parse_counters(ANNOTATE, "annotate"),
                                           {"D.insert": 9, "H.insert": 3}))
    yield ("vcf line count",
           lambda o: checks.check_vcf(o, "vcf", vcf_out, 2),
           lambda o: checks.check_vcf(o, "vcf", vcf_out, 3))
    yield ("vcf file body",
           lambda o: checks.check_vcf(o, "vcf", vcf_out, 2),
           lambda o: checks.check_vcf(o, "vcf", vcf_out.replace("wrote 2", "wrote 3"), 3))
    yield ("rsid updates",
           lambda o: checks.check_total(o, "rsid", checks.RSID_TOTAL, "[rsid] total updates: 7", 7),
           lambda o: checks.check_total(o, "rsid", checks.RSID_TOTAL, "[rsid] total updates: 8", 7))
    yield ("dupterm rows",
           lambda o: checks.check_total(o, "dup", checks.DUPTERM_TOTAL, "[dupterm] duplicate rows: 4", 4),
           lambda o: checks.check_total(o, "dup", checks.DUPTERM_TOTAL, "[dupterm] duplicate rows: 5", 4))
    yield ("output digests",
           lambda o: checks.check_digests(o, "d", {"vcf": "ab", "audit": "cd"}, {"vcf": "ab", "audit": "cd"}),
           lambda o: checks.check_digests(o, "d", {"vcf": "ab", "audit": "cd"}, {"vcf": "ab", "audit": "ce"}))
    yield ("board rows",
           lambda o: checks.check_board(o, {"q1": {"ok": True, "rows": 3, "hash": 77}}, golden),
           lambda o: checks.check_board(o, {"q1": {"ok": True, "rows": 4, "hash": 77}}, golden))
    yield ("board hash",
           lambda o: checks.check_board(o, {"q1": {"ok": True, "rows": 3, "hash": 77}}, golden),
           lambda o: checks.check_board(o, {"q1": {"ok": True, "rows": 3, "hash": 78}}, golden))
    yield ("board query failed",
           lambda o: checks.check_board(o, {"q1": {"ok": True, "rows": 3, "hash": 77}}, golden),
           lambda o: checks.check_board(o, {"q1": {"ok": False}}, golden))
    yield ("conf drift",
           lambda o: checks.check_conf_drift(o, bench, board),
           lambda o: checks.check_conf_drift(o, bench.replace('"false"', '"true"'), board))


def main():
    bad = 0
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as tmp:
        for name, right, wrong in cases(tmp):
            ok = failed(right) == 0 and failed(wrong) > 0
            bad += not ok
            print("%-26s %s" % (name, "fires" if ok else "DOES NOT FIRE"))
    print("selftest: %s" % ("ok" if bad == 0 else "%d check(s) broken" % bad))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
