package graft.pipelines

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CLI for the `--clinvar2vcf` flow (SURVEY §3.3):
  * `runMain graft.pipelines.Clinvar2VcfMain <store-dir> <out-dir> [assembly]`.
  *
  * Builds the per-variant (chr, pos, ref, alt, type, rs) extract from
  * the store (variants ⋈ map_positions ⋈ xdb rs ids), runs the export
  * pipeline (normalize → reconcile → group → sort), prepends the VCF
  * header (Clinvar2Vcf.java:75-89), and writes ONE text file
  * (coalesce(1) — the reference's single-file contract, K5).
  * dbSNP / reference-base dims are optional parquet dirs under the
  * store (`dbsnp`, `ref_bases`); absent dims mean no reconciliation /
  * no padding lookup, matching a run without those feeds. Each is read
  * with the DDL below, not an inferred schema: that DDL is its staging contract.
  */
object Clinvar2VcfMain {

  private val Header =
    """##fileformat=VCFv4.1
      |##source=clinvarpipelinespark
      |#CHROM	POS	ID	REF	ALT	QUAL	FILTER	INFO""".stripMargin

  def main(args: Array[String]): Unit = {
    val Array(storeDir, outDir) = args.take(2)
    val assembly = args.lift(2).getOrElse("GRCh38")
    val spark = CliSession.local()

    val variants = ClinvarStore.Variants.read(spark, storeDir)
    val positions = ClinvarStore.MapPositions.read(spark, storeDir)
      .filter(col("assembly") === assembly)
    val rsIds = ClinvarStore.XdbIds.read(spark, storeDir)
      .filter(col("xdb_key") === 48)
      .groupBy(col("rgd_id")).agg(min(col("acc_id")).as("rs_id"))

    val extract = variants
      .select(col("rgd_id"), col("object_type").as("var_type"),
        coalesce(col("ref_nuc"), lit("")).as("ref"),
        coalesce(col("var_nuc"), lit("")).as("alt"))
      .join(positions.select(col("rgd_id"), col("chromosome").as("chr"),
        col("start_pos").as("pos")), Seq("rgd_id"))
      .join(rsIds, Seq("rgd_id"), "left")
      .withColumnRenamed("rgd_id", "variant_id")

    def optional(table: String, ddl: String) =
      graft.ops.SnapshotStore.readOrEmpty(spark, storeDir, table, StructType.fromDDL(ddl))
    val dbsnp = optional("dbsnp", "chr STRING, pos BIGINT, ref STRING, alt STRING, rs_id STRING")
    val refBases = optional("ref_bases", "chr STRING, pos BIGINT, base STRING")

    val lines = Clinvar2VcfPipeline.run(extract, dbsnp, refBases)
    lines.coalesce(1).write.mode("overwrite").text(outDir)
    // prepend the header at the file level — a DataFrame union does NOT
    // guarantee the header partition writes first
    val part = new java.io.File(outDir).listFiles()
      .find(f => f.getName.startsWith("part-")).get
    val body = java.nio.file.Files.readString(part.toPath)
    java.nio.file.Files.writeString(part.toPath, Header + "\n" + body)
    // count the file just read, not `lines`: that would run the whole
    // extract -> join -> reconcile plan a second time
    println(s"[vcf] wrote ${body.linesIterator.size} body lines to ${part.getPath}")
    spark.stop()
  }
}
