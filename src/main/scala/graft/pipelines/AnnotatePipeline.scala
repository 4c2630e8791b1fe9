package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{DiffSync, MergeSplit, NameNormalize}

/** The `--annotate` dataflow (SURVEY §3.2; reference:
  * VariantAnnotator.run, VariantAnnotator.java:64-147): variants →
  * carpe-compliance filter (F5) → disease terms via the xref chain
  * variant_xdb(MedGen 54) ⋈ concept_map ⋈ rdo_synonyms (J8) UNION the
  * name fallback for unmatched variants (J9), plus HPO terms by name →
  * PubMed XREF_SOURCE (A12) → direct rows + ortholog fan-out (J10) →
  * two-phase annotation merge (A8/A9) with oversize splits (A10) →
  * DiffSync vs the annotation store with per-aspect guarded deletes.
  *
  * Every reference cache (gene lists, RDO terms by synonym, term-name
  * matchers — Dao.java:325-349,576-596) is a broadcast dim here.
  */
object AnnotatePipeline {

  /** The annotation aspects: D disease terms, H phenotype terms. */
  val Disease = "D"
  val Phenotype = "H"
  val Aspects: Seq[String] = Seq(Disease, Phenotype)

  /** F5: carpe-compliant variant filter
    * (VariantAnnotator.variantIsCarpeCompliant:245-266; sets from
    * AppConfigure.xml:63-78).
    */
  val CarpeTypes: Seq[String] = Seq("snv", "single nucleotide variant",
    "deletion", "duplication", "insertion")

  /** The reference excludes clinsig by EXACT set membership
    * (VariantAnnotator.java:254 `excludedClinicalSignificance.contains`,
    * set = {"not provided"} from AppConfigure.xml:64-68). A merged value
    * like "pathogenic|not provided" (QC.java:208 joins with '|') is
    * therefore still carpe-compliant — null-safe equality, not a
    * substring test.
    */
  def carpeCompliant(variants: DataFrame): DataFrame =
    variants.filter(
      col("object_type").isin(CarpeTypes: _*) &&
        !(col("clinical_significance") <=> "not provided") &&
        // <=> on BOTH operands: the reference's Utils.stringsAreEqual
        // (VariantAnnotator.java:261-262) is null-safe, so a NULL
        // submitter makes the LIMM test FALSE and keeps the row; plain
        // === would yield NULL and !(NULL) drops it
        !(col("clinical_significance") <=> "uncertain significance" &&
          col("submitter") <=> "Leeds Institute of Molecular Medicine (LIMM)"))

  /** The full 9-name excluded-condition set, exact + case-sensitive as
    * the reference's Set<String> membership is (AppConfigure.xml:49-61).
    */
  val ExcludedConditionNames: Seq[String] = Seq(
    "AllHighlyPenetrant",
    "none provided",
    "not provided",
    "Not provided",
    "not specified",
    "repeat number of microsatellite",
    "See cases",
    "Unclassifed",
    "Variant of unknown significance")

  /** J8: the MedGen-concept → OMIM → RDO-term chain. All three dims are
    * small → broadcast; the variant side never shuffles.
    */
  def diseaseTermsByConcept(
      variantXdb: DataFrame,   // rgd_id, xdb_key, acc_id
      variantGene: DataFrame,  // rgd_id, gene_id
      conceptMap: DataFrame,   // concept_cui, gene_id, omim_ids: array
      rdoSynonyms: DataFrame   // term_acc, synonym (e.g. "OMIM:613647")
  ): DataFrame = {
    val medgen = variantXdb.filter(col("xdb_key") === 54)
      .select(col("rgd_id"), col("acc_id").as("concept_cui"))
    medgen
      .join(variantGene, Seq("rgd_id"))
      .join(broadcast(conceptMap), Seq("concept_cui", "gene_id"))
      .select(col("rgd_id"), explode(col("omim_ids")).as("omim_id"))
      .join(
        broadcast(rdoSynonyms
          .withColumn("omim_id", regexp_replace(col("synonym"), "^OMIM:", ""))),
        Seq("omim_id"))
      .select(col("rgd_id"), col("term_acc"))
      .distinct()
  }

  /** F6: drop rows whose condition name is on the excluded list
    * (VariantAnnotator.java exclusion set; AppConfigure.xml:49-61).
    * Factored so the name-fallback path and the q65 driver gate run the
    * same code.
    */
  def excludedConditionFilter(df: DataFrame, excludedConditions: Seq[String]): DataFrame =
    df.filter(!col("condition").isin(excludedConditions: _*))

  /** J9: normalized-name fallback — conditions that found no term via
    * the concept chain probe the pre-normalized term index by name
    * (suffix-stripped). Excluded condition names (F6) drop out first.
    */
  def diseaseTermsByName(
      unmatchedConditions: DataFrame, // rgd_id, condition
      termIndex: DataFrame,           // norm_name, term_accs (NameNormalize.termIndex)
      excludedConditions: Seq[String]): DataFrame = {
    excludedConditionFilter(unmatchedConditions, excludedConditions)
      .withColumn(
        "norm_name",
        NameNormalize.normalizeName(NameNormalize.stripRcvSuffix(col("condition"))))
      .join(broadcast(termIndex), Seq("norm_name"))
      .select(col("rgd_id"), explode(col("term_accs")).as("term_acc"))
      .distinct()
  }

  /** J10: propagate variant→term annotations to the variant's gene and
    * its orthologs (ISO evidence; VariantAnnotator.java:268-338).
    */
  def orthologAnnotations(
      variantTerms: DataFrame, // rgd_id, term_acc (+ passthrough cols)
      variantGene: DataFrame,  // rgd_id, gene_rgd_id (exactly-1-gene variants)
      orthologs: DataFrame     // gene_rgd_id, homolog_rgd_id
  ): DataFrame = {
    val passthrough = variantTerms.columns.filterNot(Set("rgd_id", "term_acc")).toSeq
    variantTerms
      .join(variantGene, Seq("rgd_id"))
      .join(broadcast(orthologs), Seq("gene_rgd_id"))
      .select(Seq(col("homolog_rgd_id").as("annotated_rgd_id"), col("term_acc")) ++
        passthrough.map(col) :+ col("rgd_id").as("with_info"): _*)
  }

  /** A8+A10 / A9+A10: the two-phase merge/split chain
    * (AnnotCache.java:92-244). Phase 1 groups on the key INCLUDING
    * with_info and set-merges xref_source (the PubMed id lists — A12);
    * phase 2 groups on the key INCLUDING xref_source and set-merges
    * with_info; each phase splits oversize merged values at a
    * separator boundary. `evidence` (IAGP direct / ISO ortholog) is
    * part of the merge key in both phases, as in the reference's
    * 9-part key (AnnotCache.getMergeKey:246-258).
    *
    * DELIBERATE divergence: the reference only splits/rejoins a value
    * when two annots actually collide on the merge key
    * (AnnotCache.mergeIncomingAnnots2:169-211); here EVERY row is
    * split, deduped, sorted, and rejoined with '|', so a non-merged
    * singleton arriving as e.g. "WITH:b;WITH:a" normalizes to
    * "WITH:a|WITH:b" where the reference would pass it through
    * verbatim. Unreachable with this pipeline's own inputs (with_info
    * is null or a single "RGD:<id>"), and self-consistent: DiffSync
    * compares against similarly-normalized stored state.
    */
  def mergeAnnotations(
      annots: DataFrame, // annotated_rgd_id, term_acc, aspect, evidence, xref_source, with_info
      xrefMax: Int = 4000,
      withInfoMax: Int = 1700): DataFrame = {
    val phase1 = MergeSplit.mergeThenSplit(
      annots,
      keyCols = Seq("annotated_rgd_id", "term_acc", "aspect", "evidence", "with_info"),
      out = "xref_source", src = col("xref_source"), splitRegex = "[|,;]",
      maxLen = xrefMax)
    MergeSplit.mergeThenSplit(
      phase1,
      keyCols = ClinvarStore.Annotations.keyCols, // the store's natural key
      // with_info splits on all three separators, exactly as the
      // reference does (AnnotCache.mergeIncomingAnnots2:183 splits on
      // "[\|\,\;]" before re-concatenating with "|")
      out = "with_info", src = col("with_info"), splitRegex = "[|,;]",
      maxLen = withInfoMax)
  }

  /** J11: the annotation exact-match probe (on the
    * [[ClinvarStore.Annotations]] natural key) + stale-delete guard.
    * Matching rows are the reference's "touch" (update last-modified
    * only — a `match` here), missing rows insert, content-changed rows
    * update, and stale rows delete UNLESS the per-aspect NET count
    * decrease — stale deletes minus this run's inserts — exceeds
    * `maxDeleteFraction` of that aspect's pre-run rows
    * (Dao.deleteObsoleteAnnotations:705-708 compares newAnnotCount,
    * which already includes the inserts, against orig − limit; the
    * whole aspect's delete aborts — `keep_stale` here). Shared verbatim
    * by [[run]] and the q73 driver gate, so a wrong key column or a
    * wrong guard basis fails the oracle row.
    */
  def annotDiff(
      incoming: DataFrame,
      currentAnnots: DataFrame,
      maxDeleteFraction: Double = 0.05): DataFrame =
    DiffSync.guardDeletesBy(
      ClinvarStore.Annotations.diff(incoming, currentAnnots),
      Seq("aspect"),
      maxDeleteFraction)

  /** Full annotate pass: filter → term resolution (chain + name
    * fallback) → ortholog fan-out → merge/split → DiffSync vs store
    * with the per-aspect 5% delete guard (Dao.java:690-729). Returns
    * the classified annotation diff.
    */
  def run(
      variants: DataFrame,
      variantXdb: DataFrame,
      variantGene: DataFrame,    // rgd_id, gene_id, gene_rgd_id
      conceptMap: DataFrame,
      rdoSynonyms: DataFrame,
      termIndex: DataFrame,      // RDO names (aspect D)
      hpoTermIndex: DataFrame,   // HPO names (aspect H; name-match only,
                                 // VariantAnnotator.java:425-496)
      orthologs: DataFrame,
      currentAnnots: DataFrame,  // the ClinvarStore.Annotations snapshot
      excludedConditions: Seq[String] = ExcludedConditionNames,
      maxDeleteFraction: Double = 0.05): DataFrame = {

    val compliant = carpeCompliant(variants).select(col("rgd_id"), col("trait_name"))

    val byConcept = diseaseTermsByConcept(
      variantXdb.join(compliant.select("rgd_id"), Seq("rgd_id")),
      variantGene.select("rgd_id", "gene_id"), conceptMap, rdoSynonyms)

    val unmatched = compliant
      .join(byConcept.select("rgd_id"), Seq("rgd_id"), "left_anti")
      .select(col("rgd_id"), col("trait_name").as("condition"))
    val byName = diseaseTermsByName(unmatched, termIndex, excludedConditions)

    // aspect D: disease terms (concept chain, then name fallback);
    // aspect H: phenotype terms, resolved by NAME against the HPO index
    // for every compliant variant (the reference's phenotype twin has no
    // concept chain — VariantAnnotator.generatePhenotypeAnnotations).
    // byConcept and byName are each distinct and share no rgd_id: so is their union
    val diseaseTerms = byConcept.unionByName(byName)
      .withColumn("aspect", lit(Disease))
    val phenotypeTerms = diseaseTermsByName(
      compliant.select(col("rgd_id"), col("trait_name").as("condition")),
      hpoTermIndex, excludedConditions)
      .withColumn("aspect", lit(Phenotype))
    val variantTerms = diseaseTerms.unionByName(phenotypeTerms)

    // A12: the annotation XREF_SOURCE is the variant's sorted PubMed id
    // list (VariantAnnotator.getPubMedIds:625-634)
    val pubmed = variantXdb.filter(col("xdb_key") === 11)
      .groupBy(col("rgd_id"))
      .agg(concat_ws("|", array_sort(collect_set(
        concat(lit("PMID:"), regexp_replace(col("acc_id"), "\\D", ""))))).as("pmids"))
    val withXref = variantTerms.join(pubmed, Seq("rgd_id"), "left")
      .withColumn("xref_source", coalesce(col("pmids"), lit("")))

    // direct variant annotations: IAGP evidence
    val direct = withXref.select(
      col("rgd_id").as("annotated_rgd_id"), col("term_acc"), col("aspect"),
      lit("IAGP").as("evidence"), col("xref_source"),
      lit(null).cast("string").as("with_info"))
    // ortholog gene annotations: ISO evidence, WITH_INFO = the source
    // variant (the propagation provenance, per the reference's ISO
    // with_info contract) and its XREF_SOURCE
    val viaOrthologs = orthologAnnotations(
      withXref.select("rgd_id", "term_acc", "aspect", "xref_source"),
      variantGene.select("rgd_id", "gene_rgd_id"), orthologs)
      .select(col("annotated_rgd_id"), col("term_acc"), col("aspect"),
        lit("ISO").as("evidence"), col("xref_source"),
        concat(lit("RGD:"), col("with_info")).as("with_info"))

    val merged = mergeAnnotations(direct.unionByName(viaOrthologs))

    // PER-ASPECT 5% delete ceiling (Dao.deleteObsoleteAnnotations:690-729)
    annotDiff(merged, currentAnnots, maxDeleteFraction)
  }
}
