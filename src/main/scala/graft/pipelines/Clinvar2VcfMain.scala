package graft.pipelines

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * no padding lookup, matching a run without those feeds.
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
    import spark.implicits._

    def optParquet(path: String, schema: StructType) =
      if (new java.io.File(path).exists()) spark.read.parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

    val variants = graft.ops.SnapshotStore.read(spark, storeDir, "variants")
    val positions = graft.ops.SnapshotStore.read(spark, storeDir, "map_positions")
      .filter(col("assembly") === assembly)
    val rsIds = graft.ops.SnapshotStore.read(spark, storeDir, "xdb_ids")
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

    val dbsnp = optParquet(s"$storeDir/dbsnp", StructType(Seq(
      StructField("chr", StringType), StructField("pos", LongType),
      StructField("ref", StringType), StructField("alt", StringType),
      StructField("rs_id", StringType))))
    val refBases = optParquet(s"$storeDir/ref_bases", StructType(Seq(
      StructField("chr", StringType), StructField("pos", LongType),
      StructField("base", StringType))))

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
