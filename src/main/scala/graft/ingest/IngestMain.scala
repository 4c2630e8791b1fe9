package graft.ingest

import graft.pipelines.CliSession

/** CLI entry for the ingest stage of the Load pipeline (SURVEY §3.1):
  * `runMain graft.ingest.IngestMain <vcv-xml-path> <out-dir>` reads a
  * ClinVar VCV release file, writes the canonical nested `variants`
  * parquet snapshot plus the five exploded child views, and prints the
  * skip/ok counter summary (the reference's GlobalCounters dump,
  * Manager.java:135).
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val Array(xmlPath, outDir) = args.take(2)
    val spark = CliSession.local()

    val parsed = XmlIngest.parseRecords(XmlIngest.readRecords(spark, xmlPath)).cache()
    val vars = XmlIngest.variants(parsed).cache()

    vars.write.mode("overwrite").parquet(s"$outDir/variants")
    XmlIngest.geneAssociations(vars).write.mode("overwrite").parquet(s"$outDir/gene_associations")
    XmlIngest.xdbIds(vars).write.mode("overwrite").parquet(s"$outDir/xdb_ids")
    XmlIngest.mapPositions(vars).write.mode("overwrite").parquet(s"$outDir/map_positions")
    XmlIngest.hgvsNames(vars).write.mode("overwrite").parquet(s"$outDir/hgvs_names")
    XmlIngest.aliases(vars).write.mode("overwrite").parquet(s"$outDir/aliases")

    // counter dump, alphabetical (GlobalCounters.java:27-29)
    XmlIngest.counters(parsed).collect().foreach { row =>
      println(s"[ingest] ${row.getString(0)}: ${row.getLong(1)}")
    }
    spark.stop()
  }
}
