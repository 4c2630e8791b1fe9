package graft.pipelines

import org.apache.spark.sql.functions._

/** CLI for `--addRsIds` (SURVEY J12):
  * `runMain graft.pipelines.VariantRsIdMain <store-dir> <variant-map-parquet>`
  * prints and writes the changed-row update set.
  */
object VariantRsIdMain {
  def main(args: Array[String]): Unit = {
    val Array(storeDir, variantMapPath) = args.take(2)
    val spark = CliSession.local()
    // the store keeps dbSNP accessions raw (parser F8); the DB link
    // text the reference filters on (X7) is "rs" + acc
    val updates = VariantRsIdPipeline.run(
      graft.ops.SnapshotStore.read(spark, storeDir, "xdb_ids")
        .withColumn("link_text", concat(lit("rs"), col("acc_id"))),
      spark.read.parquet(variantMapPath))
    updates.cache().write.mode("overwrite").parquet(s"$storeDir/audit/rs_id_updates")
    updates.orderBy("variant_id").collect().take(20).foreach { r =>
      println(s"[rsid] variant ${r.get(0)} rgd ${r.get(1)}: ${r.get(2)} -> ${r.get(3)}")
    }
    println(s"[rsid] total updates: ${updates.count()}")
    spark.stop()
  }
}

/** CLI for `--qcDuplicateTerms[AndSynonyms]` (SURVEY O2):
  * `runMain graft.pipelines.DupTermQcMain <terms-parquet> [synonyms-parquet
  * [dag-edges-parquet]]` prints the duplicate-name report with ranked
  * winners; with the ontology (child, parent) edges, same-branch
  * duplicates are suppressed to the winner (J14).
  */
object DupTermQcMain {
  def main(args: Array[String]): Unit = {
    val spark = CliSession.local()
    val terms = spark.read.parquet(args(0))
    val synonyms = args.lift(1).map(p => spark.read.parquet(p))
    val dagEdges = args.lift(2).map(p => spark.read.parquet(p))
    val report = DupTermQcPipeline.run(terms, synonyms, dagEdges)
    report.orderBy(col("norm_name"), col("rank")).collect().take(40).foreach { r =>
      val win = if (r.getBoolean(4)) " <- winner" else ""
      println(s"[dupterm] ${r.getString(0)}: ${r.getString(1)} (rank ${r.getInt(3)})$win")
    }
    println(s"[dupterm] duplicate rows: ${report.count()}")
    spark.stop()
  }
}
