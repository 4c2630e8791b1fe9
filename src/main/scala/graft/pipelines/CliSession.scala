package graft.pipelines

import org.apache.spark.sql.SparkSession

/** The session every ClinVar CLI (IngestMain, LoadMain, AnnotateMain,
  * Clinvar2VcfMain, VariantRsIdMain, DupTermQcMain) runs under:
  * `$SPARK_MASTER`, else `local[$SPARK_GRAFT_CPUS]` (default 4), one
  * shuffle partition per core, and the UTC zone every graft entry point
  * pins — without it a plain `java -cp` or spark-submit launch runs in
  * the host's zone.
  */
private[graft] object CliSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
