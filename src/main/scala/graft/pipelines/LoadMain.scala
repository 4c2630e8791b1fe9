package graft.pipelines

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.XmlIngest

/** CLI for the full `--load` flow (SURVEY §3.1):
  * `runMain graft.pipelines.LoadMain <vcv-xml> <store-dir>`.
  *
  * Reads the VCV release, identity-matches + merges against the current
  * store snapshot under `store-dir` (bootstrapping an empty store on
  * first run), writes the classified diffs as the audit output (K8),
  * rewrites the next snapshots, and prints per-entity action counters
  * (K7). Running the same release twice is a no-op second time — every
  * row classifies as `match` (the reference's update-downgrade
  * semantics, Loader.java:42-49).
  */
object LoadMain {

  def main(args: Array[String]): Unit = {
    val spark = CliSession.local()
    val counters = args.toSeq match {
      // daily-load convention (S1): resolve the newest dated landing
      // dir and load it, a no-op when that release was already loaded
      case Seq("--landing", root, storeDir, _*) =>
        runLatest(spark, root, storeDir) match {
          case Some(c) => c
          case None =>
            println("[load] landing: no new release to load"); Map.empty[(String, String), Long]
        }
      case Seq(xmlPath, storeDir, _*) => run(spark, xmlPath, storeDir)
      case _ => sys.error(
        "usage: LoadMain (<vcv-xml> <store-dir> | --landing <landing-root> <store-dir>)")
    }
    counters.toSeq.sorted.foreach { case ((entity, action), n) =>
      println(s"[load] $entity.$action: $n")
    }
    spark.stop()
  }

  /** The stamp of the release a store last loaded via [[runLatest]];
    * kept as a one-line marker file next to the snapshots.
    */
  def lastLoadedStamp(spark: SparkSession, storeDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(storeDir, "_last_landing")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** S1 wired END-TO-END (reference `Downloader.java:15-24`'s dated
    * local copies + "re-read only if new"): resolve the newest dated
    * subdirectory of `landingRoot` via
    * [[graft.ingest.CorpusIO.latestSnapshot]], load it against the
    * store, and record its stamp in the store's `_last_landing` marker.
    * Returns None — a NO-OP, nothing read, nothing written — when no
    * dated dir exists or the newest one was already loaded; the daily
    * cron just calls this unconditionally.
    */
  def runLatest(
      spark: SparkSession,
      landingRoot: String,
      storeDir: String): Option[Map[(String, String), Long]] =
    graft.ingest.CorpusIO.latestSnapshot(spark, landingRoot).flatMap { dir =>
      val stamp = new org.apache.hadoop.fs.Path(dir).getName
      if (lastLoadedStamp(spark, storeDir).contains(stamp)) None
      else {
        val counters = run(spark, dir, storeDir)
        val p = new org.apache.hadoop.fs.Path(storeDir, "_last_landing")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(p, true)
        try out.write(stamp.getBytes("UTF-8")) finally out.close()
        Some(counters)
      }
    }

  /** One full load pass against the store under `storeDir` (bootstraps
    * empty). Returns the (entity, action) -> count counters — also the
    * integration-spec hook: a second run of the same release must
    * converge to matches (after the documented mergeCS rank-reorder
    * update on the first reload).
    */
  def run(spark: SparkSession, xmlPath: String, storeDir: String): Map[(String, String), Long] = {
    // the one cache of the parse: every incoming entity below reads it,
    // and the publish step's releaseAll drops it. Cut to a leaf, so the
    // six diffs' plans do not each re-analyze the parse
    val vars = graft.ops.CacheScope.cut(
      XmlIngest.variants(XmlIngest.parseRecords(XmlIngest.readRecords(spark, xmlPath))))

    val incomingVariants = vars.select(
      col("symbol"), col("rcvAcc").as("rcv_acc"), col("name"),
      col("objectType").as("object_type"),
      col("clinicalSignificance").as("clinical_significance"),
      col("reviewStatus").as("review_status"),
      col("methodType").as("method_type"),
      col("submitter"), col("traitName").as("trait_name"), col("notes"),
      col("refNuc").as("ref_nuc"), col("varNuc").as("var_nuc"),
      col("dateLastEvaluated").as("date_last_evaluated"))
    val incomingXdb = XmlIngest.xdbIds(vars)
      .select(col("symbol"), col("xdbKey").as("xdb_key"), col("accId").as("acc_id"))
    val incomingHgvs = XmlIngest.hgvsNames(vars)
      .select(col("symbol"), col("hgvsType").as("hgvs_type"), col("name"))
    val incomingAliases = XmlIngest.aliases(vars)
      .select(col("symbol"), col("value"))
    val incomingGenes = XmlIngest.geneAssociations(vars)
      .select(col("symbol"), col("geneId").as("gene_id"))
    val incomingMapPos = XmlIngest.mapPositions(vars)
      .filter(col("assembly") =!= "") // cyto rows carry no sequence coords
      .select(col("symbol"), col("assembly"), col("chromosome"),
        col("startPos").as("start_pos"), col("stopPos").as("stop_pos"))

    import ClinvarStore._
    val result = LoadPipeline.run(
      incomingVariants, incomingXdb, incomingHgvs, incomingAliases, incomingGenes,
      incomingMapPos,
      LoadPipeline.Store(
        Variants.read(spark, storeDir), XdbIds.read(spark, storeDir),
        HgvsNames.read(spark, storeDir), Aliases.read(spark, storeDir),
        GeneAssociations.read(spark, storeDir), MapPositions.read(spark, storeDir)))
    // children first: the variants touch reads their written audits
    val children = audit(storeDir, result.children, ByEntity)
    val variants = audit(storeDir, Seq(Variants -> result.touched(children.map(_.table))), ByEntity)
    publish(storeDir, variants ++ children)
  }
}
