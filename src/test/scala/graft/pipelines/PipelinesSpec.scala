package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LoadPipelineSpec extends SparkSpec {
  import spark.implicits._

  // store with two known variants
  private def store = LoadPipeline.Store(
    variants = Seq(
      (10L, "CV1", "var one", "RCV001", "snv", "pathogenic", "rs1", "mt1", "sub1", "t1", "n1", "A", "G", "2020-01-01"),
      (11L, "CV2", "var two", "RCV002", "snv", "benign", "rs2", "mt2", "sub2", "t2", "n2", "C", "T", "2020-01-01")
    ).toDF("rgd_id", "symbol", "name", "rcv_acc", "object_type", "clinical_significance",
      "review_status", "method_type", "submitter", "trait_name", "notes", "ref_nuc", "var_nuc",
      "date_last_evaluated"),
    xdbIds = Seq((10L, 52, "RCV001"), (10L, 48, "111"), (11L, 52, "RCV002"))
      .toDF("rgd_id", "xdb_key", "acc_id"),
    hgvsNames = Seq((10L, "coding", "NM_1:c.1A>G")).toDF("rgd_id", "hgvs_type", "name"),
    aliases = Seq((10L, "old alias", "RCV001")).toDF("rgd_id", "value", "notes"),
    geneAssocs = Seq((10L, "9907")).toDF("rgd_id", "gene_id"),
    mapPositions = Seq((10L, "GRCh38", "7", 100L, 101L))
      .toDF("rgd_id", "assembly", "chromosome", "start_pos", "stop_pos"))

  // incoming: CV1 matched by RCV with merged significance; CV3 brand new
  private def incoming = Seq(
    ("CV1", "RCV001", "var one", "snv", "likely pathogenic", "rs1", "mt1", "sub1", "t1", "n1", "A", "G", "2021-06-01"),
    ("CV3", "RCV003", "var three", "deletion", "benign", "rs3", "mt3", "sub3", "t3", "n3", "TA", "T", "2021-01-01")
  ).toDF("symbol", "rcv_acc", "name", "object_type", "clinical_significance",
    "review_status", "method_type", "submitter", "trait_name", "notes", "ref_nuc", "var_nuc",
    "date_last_evaluated")

  private def result = LoadPipeline.run(
    incoming,
    Seq(("CV1", 52, "RCV001"), ("CV3", 52, "RCV003")).toDF("symbol", "xdb_key", "acc_id"),
    Seq(("CV1", "coding", "NM_1:c.1A>G")).toDF("symbol", "hgvs_type", "name"),
    Seq(("CV1", "new alias")).toDF("symbol", "value"),
    Seq(("CV1", "9907"), ("CV3", "555")).toDF("symbol", "gene_id"),
    Seq(("CV1", "GRCh38", "7", 100L, 101L)).toDF("symbol", "assembly", "chromosome", "start_pos", "stop_pos"),
    store,
    maxXdbDeleteFraction = 0.99) // allow the delete in this tiny fixture

  test("identity match: existing by RCV keeps its id, new record gets a fresh id (J1/K1)") {
    val ids = LoadPipeline.matchIdentity(incoming, store)
      .select("symbol", "rgd_id", "matched_stage").as[(String, Long, Int)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(ids("CV1") === ((10L, 1)))   // matched by RCV, stage 1
    assert(ids("CV3")._1 > 11L)         // fresh surrogate above store max
    assert(ids("CV3")._2 === 0)
  }

  test("field merges: ranked clinsig union, newest-wins date (A2/A3)") {
    val diff = result.diff(ClinvarStore.Variants)
    val cv1 = diff.filter($"rgd_id" === 10L)
      .select("clinical_significance", "date_last_evaluated", "action")
      .as[(String, String, String)].head()
    // pathogenic(0) then likely pathogenic(10), per QC.mergeCS rank order
    assert(cv1._1 === "pathogenic|likely pathogenic")
    assert(cv1._2 === "2021-06-01")
    assert(cv1._3 === "update")
  }

  test("mergeFields: the reference's THREE merge shapes, not one (QC.java:29-94)") {
    // store row 20 planted so every shape's divergence is observable:
    //  - review_status "xABCy|z": CI-substring delete of incoming "abc"
    //  - submitter "subOld": store-only values age out (collections
    //    replace with the normalized INCOMING union)
    //  - notes "oldNote": "; " re-join of split incoming; blank incoming
    //    keeps the store value (NotesCollection.add:37-39)
    val st = LoadPipeline.Store(
      variants = Seq(
        (20L, "CVM", "var m", "RCVM20", "snv", "pathogenic", "xABCy|z", "mB|mA",
          "subOld", "tOld", "oldNote", "A", "G", "2020-01-01"),
        (21L, "CVB", "var b", "RCVB21", "snv", "benign", "r", "m",
          "s", "t", "keepMe", "A", "G", "2020-01-01")
      ).toDF("rgd_id", "symbol", "name", "rcv_acc", "object_type", "clinical_significance",
        "review_status", "method_type", "submitter", "trait_name", "notes", "ref_nuc", "var_nuc",
        "date_last_evaluated"),
      xdbIds = Seq.empty[(Long, Int, String)].toDF("rgd_id", "xdb_key", "acc_id"),
      hgvsNames = Seq.empty[(Long, String, String)].toDF("rgd_id", "hgvs_type", "name"),
      aliases = Seq.empty[(Long, String, String)].toDF("rgd_id", "value", "notes"),
      geneAssocs = Seq.empty[(Long, String)].toDF("rgd_id", "gene_id"),
      mapPositions = Seq.empty[(Long, String, String, Long, Long)]
        .toDF("rgd_id", "assembly", "chromosome", "start_pos", "stop_pos"))
    val inc = Seq(
      ("CVM", "RCVM20", "var m", "snv", "likely pathogenic", "abc", "mA",
        "sub2|sub1|sub2", "t2|t1", "n2|n1", "A", "G", "2021-06-01"),
      ("CVB", "RCVB21", "var b", "snv", "benign", "r", "m",
        "s", "t", "   ", "A", "G", "2020-01-01"),          // blank notes
      ("CVN", "RCVN99", "var n", "snv", "benign", "rNew", "mNew",
        "z|a|z", "tz|ta", "nz|na", "C", "T", "2021-01-01") // insert: raw passthrough
    ).toDF("symbol", "rcv_acc", "name", "object_type", "clinical_significance",
      "review_status", "method_type", "submitter", "trait_name", "notes", "ref_nuc", "var_nuc",
      "date_last_evaluated")
    val identified = LoadPipeline.matchIdentity(inc, st)
    val out = LoadPipeline.mergeFields(identified, st)
      .select("symbol", "clinical_significance", "review_status", "method_type",
        "submitter", "trait_name", "notes")
      .as[(String, String, String, String, String, String, String)]
      .collect().map(r => r._1 -> r).toMap
    val m = out("CVM")
    assert(m._2 === "pathogenic|likely pathogenic")  // mergeCS rank order (A2)
    assert(m._3 === "abc|xy|z")                      // QC.merge: CI delete + TreeSet union
    assert(m._4 === "mA|mB")                         // "mA" deleted from "mB|mA", re-added
    assert(m._5 === "sub1|sub2")                     // subOld aged out, incoming normalized
    assert(m._6 === "t1|t2")                         // trait collection, "|" untrimmed
    assert(m._7 === "n1; n2")                        // notes re-join with "; "
    val b = out("CVB")
    assert(b._7 === "keepMe")                        // blank incoming keeps store notes
    val n = out("CVN")
    assert((n._5, n._6, n._7) === (("z|a|z", "tz|ta", "nz|na"))) // insert path: raw
  }

  test("per-entity diff classification + counters (§2.6/K7)") {
    val r = result
    val store = java.nio.file.Files.createTempDirectory("counterstore").toFile.getAbsolutePath
    val c = ClinvarStore.audit(store,
      (ClinvarStore.Variants -> r.diff(ClinvarStore.Variants)) +: r.children, ClinvarStore.ByEntity)
      .flatMap(_.counters).toMap
    assert(c(("variants", "update")) === 1L) // CV1 merged
    assert(c(("variants", "insert")) === 1L) // CV3
    assert(c(("variants", "delete")) === 1L) // CV2 stale
    assert(c(("xdb_ids", "insert")) === 1L)  // RCV003
    assert(c(("xdb_ids", "match")) === 1L)   // RCV001
    assert(c(("aliases", "insert")) === 1L)
    assert(c(("aliases", "delete")) === 1L)  // old alias gone
    assert(c(("gene_associations", "match")) === 1L) // CV1-9907 kept
    assert(c(("gene_associations", "insert")) === 1L) // CV3-555
    assert(c(("map_positions", "match")) === 1L)
  }

  test("guarded deletes: tight ceiling downgrades xdb deletes to keep_stale") {
    val guarded = LoadPipeline.run(
      incoming,
      Seq(("CV1", 52, "RCV001")).toDF("symbol", "xdb_key", "acc_id"),
      spark.emptyDataFrame.withColumn("symbol", lit("")).withColumn("hgvs_type", lit(""))
        .withColumn("name", lit("")).limit(0),
      spark.emptyDataFrame.withColumn("symbol", lit("")).withColumn("value", lit("")).limit(0),
      spark.emptyDataFrame.withColumn("symbol", lit("")).withColumn("gene_id", lit("")).limit(0),
      spark.emptyDataFrame.withColumn("symbol", lit("")).withColumn("assembly", lit(""))
        .withColumn("chromosome", lit("")).withColumn("start_pos", lit(0L))
        .withColumn("stop_pos", lit(0L)).limit(0),
      store, maxXdbDeleteFraction = 0.05)
    val actions = guarded.diff(ClinvarStore.XdbIds).groupBy("action").count()
      .as[(String, Long)].collect().toMap
    assert(actions.getOrElse("keep_stale", 0L) === 2L) // 48/111 + RCV002
    assert(actions.getOrElse("delete", 0L) === 0L)
  }

  test("child-only change touches the parent variant's last-modified flag (Loader.java:70-78)") {
    // CV1 resubmitted IDENTICAL to the store (action = match) but with a
    // NEW alias: the child churn must protect CV1 from the stale cutoff
    val unchanged = Seq(
      ("CV1", "RCV001", "var one", "snv", "pathogenic", "rs1", "mt1", "sub1", "t1", "n1", "A", "G", "2020-01-01")
    ).toDF("symbol", "rcv_acc", "name", "object_type", "clinical_significance",
      "review_status", "method_type", "submitter", "trait_name", "notes", "ref_nuc", "var_nuc",
      "date_last_evaluated")
    val r = LoadPipeline.run(
      unchanged,
      Seq(("CV1", 52, "RCV001"), ("CV1", 48, "111")).toDF("symbol", "xdb_key", "acc_id"),
      Seq(("CV1", "coding", "NM_1:c.1A>G")).toDF("symbol", "hgvs_type", "name"),
      Seq(("CV1", "old alias"), ("CV1", "brand new alias")).toDF("symbol", "value"),
      Seq(("CV1", "9907")).toDF("symbol", "gene_id"),
      Seq(("CV1", "GRCh38", "7", 100L, 101L)).toDF("symbol", "assembly", "chromosome", "start_pos", "stop_pos"),
      store, maxXdbDeleteFraction = 0.99)
    val rows = r.diff(ClinvarStore.Variants).select("rgd_id", "action", "touched")
      .as[(Long, String, Boolean)].collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(rows(10L) === (("match", true)))   // unchanged row, child insert -> touched
    assert(rows(11L) === (("delete", false))) // stale CV2: never touched
  }

  test("K1: all-insert load gets dense, deterministic ids with no window in the plan") {
    // a first full load is 100% inserts — the case the old boolean-
    // partition row_number funneled through ONE task
    val many = (1 to 500)
      .map(i => (f"NEW$i%04d", s"RCVN$i", s"brand new variant $i"))
      .toDF("symbol", "rcv_acc", "name")
      .repartition(8)
    def run() = LoadPipeline.matchIdentity(many, store)
    val out = run()
    val ids = out.filter($"matched_stage" === 0).select("rgd_id").as[Long].collect().sorted
    assert(ids.toSeq === (12L to 511L)) // dense + unique above store max (11)
    // deterministic: a second invocation assigns the identical mapping
    val m1 = out.select("symbol", "rgd_id").as[(String, Long)].collect().toMap
    val m2 = run().select("symbol", "rgd_id").as[(String, Long)].collect().toMap
    assert(m1 === m2)
    // plan pin: no Window operator anywhere in the insert path
    var windows = 0
    out.queryExecution.executedPlan.foreach(n =>
      if (n.nodeName.toLowerCase.contains("window")) windows += 1)
    assert(windows === 0)
  }
}

class AnnotatePipelineSpec extends SparkSpec {
  import spark.implicits._

  private def variants = Seq(
    (1L, "snv", "pathogenic", "OMIM", "Usher Syndrome, Type 2 [RCV1]"),
    (2L, "snv", "not provided", "x", "t [RCV2]"),          // F5: dropped
    (3L, "inversion", "pathogenic", "x", "t [RCV3]"),      // F5: non-carpe type
    (4L, "deletion", "benign", "x", "Rare Thing [RCV4]"),  // resolved by name
    // null-safe LIMM test: NULL submitter + 'uncertain significance'
    // is KEPT (Utils.stringsAreEqual semantics) — === would drop it
    (5L, "snv", "uncertain significance", null, "t [RCV5]")
  ).toDF("rgd_id", "object_type", "clinical_significance", "submitter", "trait_name")

  private def variantXdb = Seq((1L, 54, "C100"), (4L, 54, "C404"), (1L, 11, "pm77"))
    .toDF("rgd_id", "xdb_key", "acc_id")
  private def variantGene = Seq((1L, "9907", 500L), (4L, "1234", 501L))
    .toDF("rgd_id", "gene_id", "gene_rgd_id")
  private def conceptMap = Seq(("C100", "9907", Seq("613647")))
    .toDF("concept_cui", "gene_id", "omim_ids")
  private def rdoSynonyms = Seq(("DOID:1", "OMIM:613647")).toDF("term_acc", "synonym")
  private def termIndex = graft.ops.NameNormalize.termIndex(
    Seq(("DOID:9", "Rare Thing")).toDF("acc", "nm"), "acc", "nm")
  // 9600: an ortholog of variant 4's gene; variant 4 has no PubMed xref
  private def orthologs = Seq((500L, 9500L), (500L, 9501L), (501L, 9600L))
    .toDF("gene_rgd_id", "homolog_rgd_id")

  // HPO twin index: variant 1's trait resolves by name to HP:0000556
  private def hpoTermIndex = graft.ops.NameNormalize.termIndex(
    Seq(("HP:0000556", "Type 2 Usher Syndrome")).toDF("acc", "nm"), "acc", "nm")

  private def result = AnnotatePipeline.run(
    variants, variantXdb, variantGene, conceptMap, rdoSynonyms, termIndex,
    hpoTermIndex, orthologs,
    currentAnnots = Seq.empty[(Long, String, String, String, String, String)]
      .toDF("annotated_rgd_id", "term_acc", "aspect", "evidence", "xref_source", "with_info"))

  test("carpe filter drops 'not provided' and non-carpe types (F5)") {
    val kept = AnnotatePipeline.carpeCompliant(variants).select("rgd_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L))
  }

  test("concept chain resolves variant 1; name fallback resolves variant 4 (J8/J9)") {
    val annots = result.filter($"action" === "insert")
      .select("annotated_rgd_id", "term_acc", "aspect", "evidence", "xref_source")
      .as[(Long, String, String, String, String)].collect().toSet
    // direct annots carry IAGP + the variant's PMID list as xref (A12)
    assert(annots.contains((1L, "DOID:1", "D", "IAGP", "PMID:77")))
    assert(annots.contains((4L, "DOID:9", "D", "IAGP", "")))
    // ortholog fan-out from variant 1's gene (2 homologs), ISO evidence (J10)
    assert(annots.contains((9500L, "DOID:1", "D", "ISO", "PMID:77")))
    assert(annots.contains((9501L, "DOID:1", "D", "ISO", "PMID:77")))
    // phenotype twin (aspect H): name-match against the HPO index + fan-out
    assert(annots.contains((1L, "HP:0000556", "H", "IAGP", "PMID:77")))
    assert(annots.contains((9500L, "HP:0000556", "H", "ISO", "PMID:77")))
  }

  test("per-aspect delete guard: one aspect's storm downgrades only that aspect") {
    // current store: many H annots that all vanish, one D annot that stays
    val cur = (1 to 20).map(i => (100L + i, "HP:9", "H", "IAGP", "", "x"))
      .toDF("annotated_rgd_id", "term_acc", "aspect", "evidence", "xref_source", "with_info")
      .unionByName(Seq((1L, "DOID:1", "D", "IAGP", "PMID:77", null.asInstanceOf[String]))
        .toDF("annotated_rgd_id", "term_acc", "aspect", "evidence", "xref_source", "with_info"))
    val guarded = AnnotatePipeline.run(
      variants, variantXdb, variantGene, conceptMap, rdoSynonyms, termIndex,
      hpoTermIndex, orthologs, currentAnnots = cur)
    val byAspect = guarded.groupBy("aspect", "action").count()
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // H: 20/21 would be deleted -> way over 5% -> all kept stale
    assert(byAspect.getOrElse(("H", "keep_stale"), 0L) === 20L)
    assert(byAspect.getOrElse(("H", "delete"), 0L) === 0L)
  }

  test("ISO with_info records the propagation source variant") {
    val wi = result.filter($"evidence" === "ISO")
      .select("with_info").as[String].collect().toSet
    assert(wi === Set("RGD:1", "RGD:4"))
  }

  test("ISO rows of a variant with no PubMed xref carry an empty xref_source") {
    val iso = result.filter($"evidence" === "ISO" && $"with_info" === "RGD:4")
      .select("annotated_rgd_id", "term_acc", "aspect", "xref_source")
      .as[(Long, String, String, String)].collect().toSet
    assert(iso === Set((9600L, "DOID:9", "D", "")))
  }
}

class Clinvar2VcfPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def variants = Seq(
    ("10", 100L, "A", "G", "single nucleotide variant", Some("555"), 1L),
    ("2", 200L, "", "TT", "insertion", None, 2L),  // needs left-pad + rs from dbSNP
    ("10", 100L, "A", "C", "single nucleotide variant", Some("555"), 3L) // same site, extra allele
  ).toDF("chr", "pos", "ref", "alt", "var_type", "rs_id", "variant_id")

  private def dbsnp = Seq(("2", 199L, "C", "CTT", "777"))
    .toDF("chr", "pos", "ref", "alt", "rs_id")

  private def refBases = Seq(("2", 199L, "C"), ("10", 99L, "T"))
    .toDF("chr", "pos", "base")

  test("indel left-pad: base prepended, pos shifted down (X18/S9)") {
    val n = Clinvar2VcfPipeline.normalizeIndels(variants, refBases)
      .filter($"variant_id" === 2L).select("pos", "ref", "alt")
      .as[(Long, String, String)].head()
    assert(n === ((199L, "C", "CTT")))
  }

  test("allele-group merge + lexicographic chr sort + tab lines (A11/O1/K5)") {
    val lines = Clinvar2VcfPipeline.run(variants, dbsnp, refBases).as[String].collect()
    // lexicographic chr: "10" sorts before "2"
    assert(lines.head.startsWith("10\t100\t"))
    assert(lines.head.contains("\tC,G\t")) // merged alt alleles, sorted
    // padded insertion found its rs via the post-normalization dbSNP key
    assert(lines.last.startsWith("2\t199\trs777\tC\tCTT"))
    // INFO fields: dbSNP_156 present iff rs id, TSA=<type>, E_Freq
    assert(lines.head.endsWith("\t.\t.\tdbSNP_156;TSA=single nucleotide variant;E_Freq"))
    assert(lines.last.endsWith("\t.\t.\tdbSNP_156;TSA=insertion;E_Freq"))
  }

  test("validateRef flags snvs whose ref base disagrees with the genome") {
    val v = Seq(
      ("10", 100L, "A", "G", "snv", 1L),      // genome says A -> ok
      ("10", 101L, "C", "T", "snv", 2L),      // genome says G -> BAD
      ("10", 101L, "C", "", "deletion", 3L),  // not an snv -> never flagged
      ("11", 5L, "T", "A", "snv", 4L)         // no genome row -> can't validate
    ).toDF("chr", "pos", "ref", "alt", "var_type", "variant_id")
    val bases = Seq(("10", 100L, "A"), ("10", 101L, "G")).toDF("chr", "pos", "base")
    val flags = Clinvar2VcfPipeline.validateRef(v, bases)
      .select("variant_id", "has_bad_ref").as[(Long, Boolean)].collect().toMap
    assert(flags === Map(1L -> false, 2L -> true, 3L -> false, 4L -> false))
  }

  test("F11: group skipped iff BOTH merged alleles exceed one char; NVL(nuc,'-')") {
    val nullRs = Option.empty[String]
    val v = Seq(
      ("1", 10L, "AT", "GC", "indel", nullRs, 1L),       // both >1, no commas -> SKIP
      ("1", 20L, "A", "GC", "indel", nullRs, 2L),        // ref single -> keep
      ("1", 30L, null, "G", "deletion", nullRs, 3L),     // null ref -> "-"
      ("1", 40L, "A", "G", "snv", nullRs, 4L),
      ("1", 40L, "T", "G", "snv", nullRs, 5L)            // ref merges "A,T" but alt "G" -> keep
    ).toDF("chr", "pos", "ref", "alt", "var_type", "rs_id", "variant_id")
    val lines = Clinvar2VcfPipeline
      .toVcfLines(Clinvar2VcfPipeline.groupAlleles(v)).as[String].collect()
    assert(!lines.exists(_.startsWith("1\t10\t")))       // reference skips AT>GC
    assert(lines.exists(_.startsWith("1\t20\t.\tA\tGC")))
    assert(lines.exists(_.startsWith("1\t30\t.\t-\tG"))) // NVL'd missing nuc
    assert(lines.exists(_.startsWith("1\t40\t.\tA,T\tG")))
    // rs-less rows get "." id and no dbSNP_156 INFO flag
    assert(lines.forall(l => l.endsWith(";E_Freq") && !l.contains("dbSNP_156")))
  }
}

class RsIdAndDupTermSpec extends SparkSpec {
  import spark.implicits._

  test("rs-id enrichment emits only changed rows, null-safe (J12)") {
    val xdb = Seq(
      (1L, 48, "rs100"), (2L, 48, "rs200"), (3L, 48, "rs300"),
      (1L, 52, "RCV1"),  // wrong xdb key -> ignored
      (3L, 48, "ss42")   // non-"rs" link text -> ignored (VariantRsId.java:36)
    ).toDF("rgd_id", "xdb_key", "link_text")
    val vmap = Seq(
      (1001L, 1L, "rs100"),  // unchanged -> no row
      (1002L, 2L, "rs999"),  // differs -> update
      (1003L, 3L, null)      // null -> update
    ).toDF("variant_id", "rgd_id", "rs_id")
    val out = VariantRsIdPipeline.run(xdb, vmap)
      .select("variant_id", "rs_new").as[(Long, String)].collect().toSet
    assert(out === Set((1002L, "rs200"), (1003L, "rs300")))
  }

  test("rs-id enrichment: at most ONE update per rgd_id, deterministic winner (J12)") {
    // rgd 7 has two differing rs xrefs and two variants: the reference's
    // rgdIds guard (VariantRsId.java:40) admits only the first pair; the
    // deterministic analog picks min (rs_new, variant_id)
    val xdb = Seq((7L, 48, "rs111"), (7L, 48, "rs222"))
      .toDF("rgd_id", "xdb_key", "link_text")
    val vmap = Seq((2001L, 7L, "rs999"), (2002L, 7L, "rs999"))
      .toDF("variant_id", "rgd_id", "rs_id")
    val out = VariantRsIdPipeline.run(xdb, vmap)
      .select("variant_id", "rgd_id", "rs_old", "rs_new")
      .as[(Long, Long, String, String)].collect().toSeq
    assert(out === Seq((2001L, 7L, "rs999", "rs111")))
  }

  test("duplicate-term QC: groups by normalized name, 3-level rank winner (O2)") {
    val terms = Seq(
      ("DOID:1", "Usher Syndrome, Type 2", 5L, 2L, 1L),
      ("DOID:2", "Type 2 Usher Syndrome", 5L, 3L, 1L), // wins on child_count
      ("DOID:3", "unrelated", 9L, 9L, 0L)
    ).toDF("term_acc", "name", "annot_count", "child_count", "parent_count")
    val out = DupTermQcPipeline.run(terms)
      .as[(String, String, Long, Int, Boolean)].collect()
    assert(out.length === 2) // only the duplicate pair reported
    val winner = out.find(_._5).get
    assert(winner._2 === "DOID:2")
  }

  test("same-branch duplicates suppressed to the winner; separate branches kept (J14)") {
    val terms = Seq(
      ("DOID:1", "Alpha", 5L, 2L, 1L), // ancestor of DOID:2, higher-ranked
      ("DOID:2", "alpha", 1L, 1L, 1L), // same branch -> suppressed, group dies
      ("DOID:3", "Beta", 2L, 1L, 1L),
      ("DOID:4", "beta", 1L, 1L, 1L)   // separate branches -> both reported
    ).toDF("term_acc", "name", "annot_count", "child_count", "parent_count")
    val edges = Seq(("DOID:2", "DOID:1"), ("DOID:4", "DOID:9"))
      .toDF("child", "parent")
    val out = DupTermQcPipeline.run(terms, dagEdges = Some(edges))
      .select("term_acc", "is_winner").as[(String, Boolean)].collect().toSet
    assert(out === Set(("DOID:3", true), ("DOID:4", false)))
    // without edges both groups report (the unsuppressed baseline)
    assert(DupTermQcPipeline.run(terms).count() === 4)
  }

  test("duplicate-term QC folds synonyms in when provided") {
    val terms = Seq(
      ("DOID:1", "Alpha", 1L, 1L, 1L),
      ("DOID:2", "Beta", 2L, 1L, 1L)
    ).toDF("term_acc", "name", "annot_count", "child_count", "parent_count")
    val syns = Seq(("DOID:2", "alpha")).toDF("term_acc", "synonym")
    val out = DupTermQcPipeline.run(terms, Some(syns))
    assert(out.count() === 2) // DOID:1 name collides with DOID:2 synonym
    assert(out.filter($"is_winner" && $"term_acc" === "DOID:2").count() === 1)
  }
}
