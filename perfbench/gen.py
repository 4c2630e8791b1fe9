"""Seeded ClinVar VCV release generator and its truth model.

Builds a plain-XML release (v1.xml, the bootstrap load) from the record
shapes in data/fixtures/vcv_sample.xml and vcv_skips.xml.  Records are
renumbered (VariationID, AlleleID, RCV), positions and significance vary,
the number of ClinicalAssertions per record is heavy-tailed, and fixed
shares of records are multi-allele, genotype, haplotype, empty or
malformed.  Next to the release it writes the annotate dims, the rsID
variant map, a DupTermQc terms table with duplicate names, and
truth.json: what the pipeline CLIs must print, derived from the
generator's own record model rather than from the program.

    python3 perfbench/gen.py <out-dir> --seed 7 --records 1000
"""

import argparse
import json
import os
import random
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

# clinical significance values (all in the program's rank table, distinct ranks)
CS = ["Pathogenic", "Likely pathogenic", "Benign", "Likely benign",
      "Uncertain significance", "risk factor", "drug response", "protective"]
REVIEW = ["criteria provided, single submitter", "no assertion criteria provided",
          "reviewed by expert panel", "criteria provided, multiple submitters, no conflicts"]
METHODS = ["clinical testing", "literature only", "research", "curation"]
TYPES = [("single nucleotide variant", 60), ("Deletion", 12), ("Duplication", 8),
         ("Insertion", 8), ("Indel", 7), ("copy number gain", 5)]
COMMENTS = ["Reported in a family with a dominant pattern.", "Seen in trans with a pathogenic variant.",
            "Functional studies show a damaging effect.", "Observed in population controls.",
            "Segregates with disease."]
CHROMS = [str(c) for c in range(1, 23)] + ["X"]
BASES = "ACGT"
# kind shares per 1000 records: the rest parse ok
SKIP_SHARES = [("multi", 15), ("genotype", 15), ("haplotype", 10), ("empty", 5), ("malformed", 15)]
STATUS = {"ok": "ok", "multi": "MULTI_ALLELE_VARIANTS_SKIPPED",
          "genotype": "GENOTYPE_VARIANTS_SKIPPED", "haplotype": "HAPLOTYPE_VARIANTS_SKIPPED",
          "empty": "NO_SIMPLE_ALLELE", "malformed": "PARSE_ERROR"}
CARPE_TYPES = {"snv", "single nucleotide variant", "deletion", "duplication", "insertion"}


def esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


class Pools:
    """Genes, conditions and submitters shared by every record of a seed."""

    def __init__(self, rnd, n_records):
        n_genes = max(50, n_records // 12)
        n_conds = max(80, n_records // 6)
        self.genes = [(str(1000 + i * 7), "GENE%d" % i, "HGNC:%d" % (20000 + i)) for i in range(n_genes)]
        self.conds = [("Syndrome %s type %d" % (rnd.choice(["Alpha", "Beta", "Gamma", "Delta", "Kappa"]), i),
                       "C%07d" % (100000 + i), "MONDO:%07d" % (5000 + i),
                       (str(600000 + 3 * i), str(600001 + 3 * i))[: 1 + i % 2])
                      for i in range(n_conds)]
        self.labs = [("Lab %d Genetics" % i, "L%d" % i) for i in range(40)]


def shapes(rnd, n):
    """Per-record (kind, assertion count, variant type) for n records.  Each
    is drawn as exact shares of its distribution, then shuffled: every seed
    gets the same mix (so the same amount of work), in another order.  The
    assertion counts are quantiles of a Pareto(1.3) tail capped at 60."""
    def exact(pairs, total):
        out = []
        for value, share in pairs:
            out += [value] * (n * share // total)
        return out + [pairs[0][0]] * (n - len(out))
    kinds = exact([("ok", 1000 - sum(s for _, s in SKIP_SHARES))] + SKIP_SHARES, 1000)
    asrt = [min(60, int((1.0 - (k + 0.5) / n) ** (-1 / 1.3))) for k in range(n)]
    types = exact(TYPES, sum(w for _, w in TYPES))
    for xs in (kinds, asrt, types):
        rnd.shuffle(xs)
    return list(zip(kinds, asrt, types))


def make_record(rnd, pools, i, shape):
    """One structured record; `i` is its ordinal in the release universe."""
    kind, n_asrt, vtype = shape
    vid = 100000 + i
    aid = 400000 + (i * 7919) % 1000003
    rec = {"kind": kind, "vid": vid, "aid": aid}
    if kind != "ok":
        return rec
    gene = rnd.choice(pools.genes)
    chrom = rnd.choice(CHROMS)
    pos = rnd.randrange(10000, 200_000_000)
    if vtype == "single nucleotide variant":
        ref = rnd.choice(BASES)
        alt = rnd.choice([b for b in BASES if b != ref])
    elif vtype in ("Deletion", "copy number gain"):
        ref = "".join(rnd.choice(BASES) for _ in range(rnd.randint(2, 6)))
        alt = ref[0]
    elif vtype in ("Insertion", "Duplication"):
        ref = rnd.choice(BASES)
        alt = ref + "".join(rnd.choice(BASES) for _ in range(rnd.randint(1, 5)))
    else:
        ref = "".join(rnd.choice(BASES) for _ in range(rnd.randint(2, 4)))
        alt = "".join(rnd.choice(BASES) for _ in range(rnd.randint(2, 4)))
    cond = rnd.choice(pools.conds)
    n_rcv = 1 + (rnd.random() < 0.15)
    assertions = []
    for a in range(n_asrt):
        lab = rnd.choice(pools.labs)
        assertions.append({
            "scv": "SCV%09d" % (vid * 64 + a), "lab": lab,
            "date": "20%02d-%02d-%02d" % (rnd.randint(10, 25), rnd.randint(1, 12), rnd.randint(1, 28)),
            "pmids": [str(rnd.randrange(1_000_000, 39_000_000)) for _ in range(rnd.choice([0, 1, 1, 2]))],
            "comment": rnd.choice(COMMENTS) if rnd.random() < 0.08 else None,
            "omim": rnd.choice(cond[3]) if rnd.random() < 0.2 else None,
        })
    cdot = "c.%d%s>%s" % (rnd.randrange(1, 9000), ref[:1], alt[:1])
    rec.update({
        "vtype": vtype, "gene": gene, "chr": chrom, "pos": pos, "ref": ref, "alt": alt,
        "pos37": pos - rnd.randrange(1000, 90000), "swap37": rnd.random() < 0.1,
        "cyto": "%sp%d.%d" % (chrom, rnd.randint(11, 36), rnd.randint(1, 3)),
        "name": "NM_%06d.%d(%s):%s" % (vid, 1 + vid % 4, gene[1], cdot),
        "hgvs": [("coding", "NucleotideExpression", "NM_%06d.%d:%s" % (vid, 1 + vid % 4, cdot))]
        + ([("HGVS, protein, RefSeq", "ProteinExpression", "NP_%06d.1:p.Arg%dTer" % (vid, rnd.randrange(1, 900)))]
           if rnd.random() < 0.6 else []),
        "rs": str(10_000_000 + (i * 104729) % 900_000_000) if rnd.random() < 0.8 else None,
        "omim_allele": "%s.%04d" % (cond[3][0], 1 + i % 50) if rnd.random() < 0.1 else None,
        "rcvs": ["RCV%09d" % (vid * 4 + r) for r in range(n_rcv)],
        "cond": cond, "cs": rnd.choice(CS), "review": rnd.choice(REVIEW), "method": rnd.choice(METHODS),
        "assertions": assertions,
        "aliases": ["%s synonym %d" % (cond[0].split(" type")[0], i % 97)],
    })
    return rec


# --- XML -------------------------------------------------------------------

def record_xml(rec):
    vid, aid, kind = rec["vid"], rec["aid"], rec["kind"]
    head = ('<VariationArchive VariationID="%d" VariationName="generated %d" VariationType="Variation" '
            'RecordType="classified">\n  <RecordStatus>current</RecordStatus>\n  <Species>Homo sapiens</Species>\n'
            % (vid, vid))
    tail = "</VariationArchive>\n"
    if kind == "multi":
        return (head + '  <ClassifiedRecord>\n'
                + ''.join('    <SimpleAllele AlleleID="%d" VariationID="%d"><Name>allele %d</Name>'
                          '<VariantType>single nucleotide variant</VariantType></SimpleAllele>\n' % (aid + k, vid, k)
                          for k in range(2))
                + '  </ClassifiedRecord>\n' + tail)
    if kind in ("genotype", "haplotype"):
        tag = "Genotype" if kind == "genotype" else "Haplotype"
        return (head + '  <ClassifiedRecord>\n    <%s VariationID="%d">\n' % (tag, vid)
                + ''.join('      <SimpleAllele AlleleID="%d" VariationID="%d"><Name>part %d</Name></SimpleAllele>\n'
                          % (aid + k, vid + k, k) for k in range(2))
                + '    </%s>\n  </ClassifiedRecord>\n' % tag + tail)
    if kind == "empty":
        return ('<VariationArchive VariationID="%d" VariationName="empty" VariationType="Indel" '
                'RecordType="classified">\n  <RecordStatus>removed</RecordStatus>\n'
                '  <Species>Mus musculus</Species>\n  <ClassifiedRecord>\n  </ClassifiedRecord>\n' % vid + tail)
    if kind == "malformed":
        return (head + '  <ClassifiedRecord>\n    <SimpleAllele AlleleID="%d" VariationID="%d">\n'
                '      <Name>truncated record %d\n    </SimpleAllele>\n  </ClassifiedRecord>\n' % (aid, vid, vid) + tail)
    g = rec["gene"]
    chrom, pos, ref, alt = rec["chr"], rec["pos"], rec["ref"], rec["alt"]
    s37, e37 = rec["pos37"], rec["pos37"] + len(ref) - 1
    if rec["swap37"]:
        s37, e37 = e37 + 3, s37
    cond_name, cui, mondo, _ = rec["cond"]
    out = [head, '  <ClassifiedRecord>\n    <SimpleAllele AlleleID="%d" VariationID="%d">\n' % (aid, vid),
           '      <GeneList>\n        <Gene Symbol="%s" FullName="generated gene" GeneID="%s" HGNC_ID="%s" '
           'Source="submitted" RelationshipType="within single gene"/>\n      </GeneList>\n' % (g[1], g[0], g[2]),
           '      <Name>%s</Name>\n      <VariantType>%s</VariantType>\n' % (esc(rec["name"]), rec["vtype"]),
           '      <OtherNameList>\n        <Name>%s, %s</Name>\n      </OtherNameList>\n' % (g[1], rec["vtype"].upper()),
           '      <Location>\n        <CytogeneticLocation>%s</CytogeneticLocation>\n' % rec["cyto"],
           '        <SequenceLocation Assembly="GRCh38" Chr="%s" Accession="NC_0000%s" start="%d" stop="%d" '
           'positionVCF="%d" referenceAlleleVCF="%s" alternateAlleleVCF="%s"/>\n'
           % (chrom, chrom, pos, pos + len(ref) - 1, pos, ref, alt),
           '        <SequenceLocation Assembly="GRCh37" Chr="%s" Accession="NC_0001%s" start="%d" stop="%d"/>\n'
           % (chrom, chrom, s37, e37),
           '      </Location>\n      <HGVSlist>\n']
    for typ, kind_el, expr in rec["hgvs"]:
        out.append('        <HGVS Type="%s">\n          <%s change="x">\n            <Expression>%s</Expression>\n'
                   '          </%s>\n' % (typ, kind_el, esc(expr), kind_el))
        if kind_el == "NucleotideExpression":
            out.append('          <MolecularConsequence ID="SO:0001583" Type="missense variant"/>\n')
        out.append('        </HGVS>\n')
    out.append('      </HGVSlist>\n      <XRefList>\n')
    if rec["omim_allele"]:
        out.append('        <XRef DB="OMIM" ID="%s" Type="Allelic variant"/>\n' % rec["omim_allele"])
    if rec["rs"]:
        out.append('        <XRef DB="dbSNP" ID="%s" Type="rs"/>\n' % rec["rs"])
    out.append('        <XRef DB="UniProtKB" ID="P%05d#VAR_%06d"/>\n      </XRefList>\n    </SimpleAllele>\n'
               % (vid % 99999, vid))
    out.append('    <RCVList>\n')
    for r in rec["rcvs"]:
        out.append('      <RCVAccession Accession="%s" Version="2" Title="generated">\n'
                   '        <ClassifiedConditionList TraitSetID="%d">\n'
                   '          <ClassifiedCondition DB="MedGen" ID="%s">%s</ClassifiedCondition>\n'
                   '        </ClassifiedConditionList>\n      </RCVAccession>\n' % (r, vid, cui, esc(cond_name)))
    out.append('    </RCVList>\n    <Classifications>\n'
               '      <GermlineClassification DateLastEvaluated="2020-01-01" NumberOfSubmissions="%d">\n'
               '        <ReviewStatus>%s</ReviewStatus>\n        <Description>%s</Description>\n'
               '        <ConditionList>\n          <TraitSet ID="%d" Type="Disease">\n'
               '            <Trait ID="%d" Type="Disease">\n              <Name>\n'
               '                <ElementValue Type="Preferred">%s</ElementValue>\n'
               '                <XRef ID="%s" DB="MedGen"/>\n              </Name>\n'
               '              <XRef ID="%s" DB="MONDO"/>\n            </Trait>\n          </TraitSet>\n'
               '        </ConditionList>\n      </GermlineClassification>\n    </Classifications>\n'
               '    <ClinicalAssertionList>\n'
               % (len(rec["assertions"]), rec["review"], rec["cs"], vid, vid, esc(cond_name), cui, mondo))
    for a in rec["assertions"]:
        out.append('      <ClinicalAssertion ID="%s">\n' % a["scv"][3:])
        out.append('        <ClinVarAccession Accession="%s" Type="SCV" Version="1" SubmitterName="%s" '
                   'OrgAbbreviation="%s"/>\n        <RecordStatus>current</RecordStatus>\n' % (a["scv"], *a["lab"]))
        out.append('        <Classification DateLastEvaluated="%s">\n          <ReviewStatus>%s</ReviewStatus>\n'
                   '          <GermlineClassification>%s</GermlineClassification>\n' % (a["date"], rec["review"], rec["cs"]))
        for p in a["pmids"]:
            out.append('          <Citation Type="general">\n            <ID Source="PubMed">%s</ID>\n'
                       '          </Citation>\n' % p)
        out.append('        </Classification>\n        <Assertion>variation to disease</Assertion>\n'
                   '        <ObservedInList>\n          <ObservedIn>\n'
                   '            <Sample><Origin>germline</Origin><Species>human</Species></Sample>\n'
                   '            <Method><MethodType>%s</MethodType></Method>\n'
                   '          </ObservedIn>\n        </ObservedInList>\n' % rec["method"])
        if a["comment"]:
            out.append('        <Comment>%s</Comment>\n' % esc(a["comment"]))
        if a["omim"]:
            out.append('        <TraitSet Type="Disease">\n          <Trait Type="Disease">\n'
                       '            <XRef DB="OMIM" ID="%s" Type="MIM"/>\n          </Trait>\n'
                       '        </TraitSet>\n' % a["omim"])
        out.append('      </ClinicalAssertion>\n')
    out.append('    </ClinicalAssertionList>\n    <TraitMappingList>\n')
    for k, al in enumerate(rec["aliases"]):
        out.append('      <TraitMapping ClinicalAssertionID="%s" TraitType="Disease" MappingType="Name" '
                   'MappingValue="%s" MappingRef="%s">\n        <MedGen CUI="%s" Name="%s"/>\n'
                   '      </TraitMapping>\n' % (rec["assertions"][0]["scv"][3:], esc(cond_name),
                                               "Preferred" if k == 0 else "Other", cui, esc(al)))
    out.append('    </TraitMappingList>\n  </ClassifiedRecord>\n' + tail)
    return "".join(out)


def release_xml(records):
    yield ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n<ClinVarVariationRelease '
           'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" ReleaseDate="2026-05-01">\n')
    for r in records:
        yield record_xml(r)
    yield "</ClinVarVariationRelease>\n"


# --- the truth model: what the parser and the CDC load make of a record ------

def hgvs_type(t):
    return t.replace(", ", "_").replace(" ", "").lower().replace("hgvs_", "")


def model(rec):
    """Entity rows of one ok record, as the store keeps them."""
    g = rec["gene"]
    cond_name, cui, mondo, _ = rec["cond"]
    xdb = {(52, r) for r in rec["rcvs"]} | {(3, g[0]), (21, g[2]), (54, cui), (145, mondo)}
    if rec["omim_allele"]:
        xdb |= {(53, rec["omim_allele"]), (6, rec["omim_allele"].split(".")[0])}
    if rec["rs"]:
        xdb.add((48, rec["rs"]))
    for a in rec["assertions"]:
        xdb |= {(11, p) for p in a["pmids"]}
        if a["omim"]:
            xdb.add((6, a["omim"]))
    s37, e37 = rec["pos37"], rec["pos37"] + len(rec["ref"]) - 1
    if rec["swap37"]:
        s37, e37 = e37 + 3, s37
    return {
        "identity": ("CV%d" % rec["aid"], rec["name"], rec["rcvs"][0]),
        "xdb_ids": xdb,
        "hgvs_names": {(hgvs_type(t), e) for t, _, e in rec["hgvs"]},
        "gene_associations": {g[0]},
        "map_positions": {("GRCh38", rec["chr"], rec["pos"], rec["pos"] + len(rec["ref"]) - 1),
                          ("GRCh37", rec["chr"], min(s37, e37), max(s37, e37))},
        "aliases": {a.lower() for a in rec["aliases"]},
        "cs": rec["cs"].lower(),
        "vcf": (rec["chr"], rec["pos"], rec["rs"], rec["vtype"].lower(), rec["ref"], rec["alt"]),
        "annotate": (rec["vtype"].lower() in CARPE_TYPES, g[0], cui, norm_name(cond_name)),
    }


def assign_ids(models, start):
    """Surrogate ids of inserted variants: dense, in (symbol, name, rcv) order."""
    return {m["identity"]: start + k for k, m in enumerate(sorted(models, key=lambda m: m["identity"]))}


def vcf_lines(models, xdb_by_id, ids):
    groups = defaultdict(lambda: (set(), set()))
    for m in models:
        chrom, pos, _, vtype, ref, alt = m["vcf"]
        rs = min((a for k, a in xdb_by_id.get(ids[m["identity"]], ()) if k == 48), default=None)
        refs, alts = groups[(chrom, pos, rs, vtype)]
        refs.add(ref)
        alts.add(alt)
    n = 0
    for refs, alts in groups.values():
        r, a = ",".join(sorted(refs)), ",".join(sorted(alts))
        n += not (len(r) > 1 and len(a) > 1)
    return n


def rsid_updates(vmap, xdb_by_id):
    n = 0
    for _, rgd, rs_id in vmap:
        links = {"rs" + a for k, a in xdb_by_id.get(rgd, ()) if k == 48}
        n += any(l != rs_id for l in links)
    return n


class Dims:
    """The annotate dims as lookups: (gene, concept) -> OMIM ids, OMIM id ->
    RDO terms, normalized name -> RDO / HPO terms, gene -> gene rgd id ->
    rat homologs."""

    def __init__(self):
        self.concept = defaultdict(set)
        self.omim_terms = defaultdict(set)
        self.rdo = defaultdict(set)
        self.hpo = defaultdict(set)
        self.gene_rgd = {}
        self.homologs = defaultdict(list)


def annotations(models, ids, xdb_by_id, dims):
    """AnnotateMain's rows for a store: natural key -> with_info.  Disease
    terms come from the concept chain, else from the trait name; phenotype
    terms from the trait name; each direct row fans out to the gene's rat
    homologs, whose rows merge the variants' RGD ids."""
    rows = defaultdict(set)
    for m in models:
        carpe, gene, cui, cond = m["annotate"]
        if not carpe:
            continue
        rgd = ids[m["identity"]]
        by_concept = {t for o in dims.concept.get((gene, cui), ()) for t in dims.omim_terms.get(o, ())}
        xref = "|".join(sorted({"PMID:" + a for k, a in xdb_by_id.get(rgd, ()) if k == 11}))
        for aspect, terms in (("D", by_concept or dims.rdo.get(cond, set())), ("H", dims.hpo.get(cond, set()))):
            for t in terms:
                rows[(rgd, t, aspect, "IAGP", xref)]
                for h in dims.homologs.get(dims.gene_rgd[gene], ()):
                    rows[(h, t, aspect, "ISO", xref)].add("RGD:%d" % rgd)
    return {k: "|".join(sorted(v)) for k, v in rows.items()}


def annotate_inserts(rows):
    """DiffSync's counters for annotation rows loaded into an empty store:
    every row is an insert of its aspect."""
    return counters(Counter("%s.insert" % k[2] for k in rows))


def norm_name(s):
    for ch in "-,()/":
        s = s.replace(ch, " ")
    return ".".join(sorted(s.lower().split()))


def counters(rows):
    return {k: v for k, v in sorted(rows.items()) if v}


def truth_bootstrap(m1, ids1, vmap, dims):
    c = Counter()
    c["variants.insert"] = len(m1)
    for ent in ("xdb_ids", "hgvs_names", "gene_associations", "map_positions", "aliases"):
        c[ent + ".insert"] = sum(len(m[ent]) for m in m1)
    xdb = {ids1[m["identity"]]: m["xdb_ids"] for m in m1}
    return {"load": counters(c), "annotate": annotate_inserts(annotations(m1, ids1, xdb, dims)),
            "vcf_lines": vcf_lines(m1, xdb, ids1), "rsid_updates": rsid_updates(vmap, xdb)}


# --- releases ------------------------------------------------------------------

def write_parquet(path, cols):
    pq.write_table(pa.table(cols), path)


def generate(out, seed, n):
    rnd = random.Random(seed)
    pools = Pools(rnd, n)
    v1 = [make_record(rnd, pools, i, shape) for i, shape in enumerate(shapes(rnd, n))]
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "v1.xml"), "w") as f:
        for chunk in release_xml(v1):
            f.write(chunk)

    m1 = [model(r) for r in v1 if r["kind"] == "ok"]
    ids1 = assign_ids(m1, 1)

    # rsID variant map over v1's ids: ~20% agree, ~6% carry another rs, ~2%
    # none, plus ids the store never had
    vmap = []
    for m in m1:
        rs = m["vcf"][2]
        x = rnd.random()
        if rs and x < 0.28:
            rs_id = "rs" + rs if x < 0.20 else ("rs%d" % (int(rs) + 1) if x < 0.26 else None)
            vmap.append((len(vmap) + 1, ids1[m["identity"]], rs_id))
    for k in range(50):
        vmap.append((len(vmap) + 1, 10_000_000 + k, "rs1"))
    dims = os.path.join(out, "dims")
    os.makedirs(dims, exist_ok=True)
    write_parquet(os.path.join(out, "variant_map.parquet"), {
        "variant_id": pa.array([v[0] for v in vmap], pa.int64()),
        "rgd_id": pa.array([v[1] for v in vmap], pa.int64()),
        "rs_id": pa.array([v[2] for v in vmap], pa.string())})

    # annotate dims: gene rgd ids, the MedGen concept map, RDO/HPO terms,
    # rat orthologs
    lookups = Dims()
    lookups.gene_rgd = {g[0]: 2_000_000 + k for k, g in enumerate(pools.genes)}
    write_parquet(os.path.join(dims, "genes.parquet"), {
        "gene_id": pa.array([g[0] for g in pools.genes], pa.string()),
        "gene_rgd_id": pa.array([2_000_000 + k for k in range(len(pools.genes))], pa.int64())})
    pairs = sorted({(r["gene"][0], r["gene"][1], r["cond"]) for r in v1 if r["kind"] == "ok"}, key=lambda p: (p[0], p[2][1]))
    with open(os.path.join(dims, "gene_condition_source_id.tsv"), "w") as f:
        f.write("#GeneID\tAssociatedGenes\tConceptID\tDiseaseName\tSourceName\tSourceID\tDiseaseMIM\n")
        for gid, sym, cond in pairs:
            if rnd.random() < 0.6:
                for omim in cond[3]:
                    lookups.concept[(gid, cond[1])].add(omim)
                    f.write("%s\t%s\t%s\t%s\tOMIM\t%s\t%s\n" % (gid, sym, cond[1], cond[0], omim, omim))
    omims = sorted({o for c in pools.conds for o in c[3]})
    syn = [(("DOID:%07d" % (9000000 + k)), "OMIM:" + o) for k, o in enumerate(omims) if rnd.random() < 0.8]
    for t, o in syn:
        lookups.omim_terms[o[5:]].add(t)
    write_parquet(os.path.join(dims, "rdo_synonyms.parquet"), {
        "term_acc": pa.array([s[0] for s in syn], pa.string()), "synonym": pa.array([s[1] for s in syn], pa.string())})
    rdo = [("DOID:%07d" % (8000000 + k), c[0]) for k, c in enumerate(pools.conds) if rnd.random() < 0.5]
    for t, name in rdo:
        lookups.rdo[norm_name(name)].add(t)
    write_parquet(os.path.join(dims, "terms.parquet"), {
        "term_acc": pa.array([t[0] for t in rdo], pa.string()), "name": pa.array([t[1] for t in rdo], pa.string())})
    hpo = [("HP:%07d" % k, c[0]) for k, c in enumerate(pools.conds) if rnd.random() < 0.2]
    for t, name in hpo:
        lookups.hpo[norm_name(name)].add(t)
    write_parquet(os.path.join(dims, "hpo_terms.parquet"), {
        "term_acc": pa.array([t[0] for t in hpo], pa.string()), "name": pa.array([t[1] for t in hpo], pa.string())})
    orth = [(2_000_000 + k, 3_000_000 + 3 * k + j) for k in range(len(pools.genes)) for j in range(k % 3)]
    for g, h in orth:
        lookups.homologs[g].append(h)
    write_parquet(os.path.join(dims, "orthologs.parquet"), {
        "gene_rgd_id": pa.array([o[0] for o in orth], pa.int64()),
        "homolog_rgd_id": pa.array([o[1] for o in orth], pa.int64())})

    # DupTermQc terms: ontology-style names, ~6% re-stated with another
    # accession in a different case / word order / punctuation
    terms = []
    for k in range(max(200, n // 4)):
        words = [rnd.choice(["renal", "cardiac", "neural", "hepatic", "ocular", "skeletal"]),
                 rnd.choice(["dysplasia", "atrophy", "fibrosis", "agenesis"]), "type", str(k)]
        terms.append(("RDO:%07d" % k, " ".join(words)))
        if rnd.random() < 0.06:
            terms.append(("RDO:%07d" % (5_000_000 + k), "%s, %s (%s %s)" % (words[1].upper(), words[0], words[2], words[3])))
    groups = Counter(norm_name(t[1]) for t in terms)
    write_parquet(os.path.join(out, "dupterms.parquet"), {
        "term_acc": pa.array([t[0] for t in terms], pa.string()),
        "name": pa.array([t[1] for t in terms], pa.string()),
        "annot_count": pa.array([rnd.randrange(0, 50) for _ in terms], pa.int64()),
        "child_count": pa.array([rnd.randrange(0, 5) for _ in terms], pa.int64()),
        "parent_count": pa.array([1 + rnd.randrange(0, 2) for _ in terms], pa.int64())})

    truth = {
        "seed": seed, "records": n,
        "parse_status": counters(Counter(STATUS[r["kind"]] for r in v1)),
        "clinvar_bootstrap": truth_bootstrap(m1, ids1, vmap, lookups),
        "dupterm_rows": sum(1 for t in terms if groups[norm_name(t[1])] > 1),
    }
    truth["clinvar_bootstrap"]["dupterm_rows"] = truth["dupterm_rows"]
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--records", type=int, default=1000)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.records), sort_keys=True))


if __name__ == "__main__":
    main()
