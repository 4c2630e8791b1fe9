package graft.pipelines

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.XmlIngest
import graft.ops.NameNormalize

/** CLI for the `--annotate` flow (SURVEY §3.2):
  * `runMain graft.pipelines.AnnotateMain <store-dir> <dims-dir>`.
  *
  * Reads the variant store written by [[LoadMain]] plus the annotation
  * dims under `dims-dir`:
  *   - `genes.parquet`                  gene_id, gene_rgd_id
  *   - `gene_condition_source_id.tsv`   the MedGen concept map (S6 —
  *                                      same format the reference
  *                                      downloads, tab-separated with
  *                                      `#` comments)
  *   - `rdo_synonyms.parquet`           term_acc, synonym ("OMIM:...")
  *   - `terms.parquet`                  term_acc, name (for the J9
  *                                      normalized-name fallback index)
  *   - `orthologs.parquet`              gene_rgd_id, homolog_rgd_id
  *
  * Writes the classified annotation diff (audit) + next snapshot under
  * `store-dir/annotations`, and prints action counters.
  */
object AnnotateMain {
  def main(args: Array[String]): Unit = {
    val Array(storeDir, dimsDir) = args.take(2)
    val spark = CliSession.local()
    run(spark, storeDir, dimsDir).toSeq.sorted.foreach { case ((aspect, action), n) =>
      println(s"[annotate] $aspect.$action: $n")
    }
    spark.stop()
  }

  /** One full annotate pass against the store under `storeDir` and the
    * dims under `dimsDir`; publishes the next `annotations` snapshot
    * (bucketed, subset flip) and returns the (aspect, action) -> count
    * counters — also the integration-spec hook: a second run over an
    * unchanged store must classify every annotation as match.
    */
  def run(spark: SparkSession, storeDir: String, dimsDir: String): Map[(String, String), Long] = {
    val variants = ClinvarStore.Variants.read(spark, storeDir)
    val variantXdb = ClinvarStore.XdbIds.read(spark, storeDir)
    val geneAssocs = ClinvarStore.GeneAssociations.read(spark, storeDir)
    val genes = spark.read.parquet(s"$dimsDir/genes.parquet")
    val variantGene = geneAssocs.join(broadcast(genes), Seq("gene_id"))
      .select(col("rgd_id"), col("gene_id"), col("gene_rgd_id"))

    val conceptMap = XmlIngest.conceptToOmim(spark, s"$dimsDir/gene_condition_source_id.tsv")
    val rdoSynonyms = spark.read.parquet(s"$dimsDir/rdo_synonyms.parquet")
    val termIndex = NameNormalize.termIndex(
      spark.read.parquet(s"$dimsDir/terms.parquet"), "term_acc", "name")
    // HPO names for the phenotype (aspect H) twin; absent file = no H path
    val hpoFile = new java.io.File(s"$dimsDir/hpo_terms.parquet")
    val hpoTermIndex =
      if (hpoFile.exists())
        NameNormalize.termIndex(
          spark.read.parquet(hpoFile.toString), "term_acc", "name")
      else termIndex.limit(0)
    val orthologs = spark.read.parquet(s"$dimsDir/orthologs.parquet")

    val diff = AnnotatePipeline.run(
      variants, variantXdb, variantGene, conceptMap, rdoSynonyms,
      termIndex, hpoTermIndex, orthologs, ClinvarStore.Annotations.read(spark, storeDir))
    // subset publish: only `annotations` moves to the new version; the
    // load entities keep their manifest pointers in the same atomic flip
    ClinvarStore.publish(storeDir, ClinvarStore.audit(
      storeDir, Seq(ClinvarStore.Annotations -> diff),
      _ => ClinvarStore.Groups(col("aspect"), AnnotatePipeline.Aspects)))
  }
}
