package graft.pipelines

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, udf}

import graft.ops.{DiffSync, SnapshotStore}

class ClinvarStoreSpec extends SparkSpec {
  import spark.implicits._

  /** The number of Spark jobs `body` starts. The listener bus delivers
    * in order, so once a sentinel job run after `body` is seen, every
    * job of `body` has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "sentinel"))
          sentinelSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("sentinel", "sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "sentinel job not seen")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("reading an audit back or a published entity launches no Spark job") {
    import ClinvarStore.Aliases
    val store = java.nio.file.Files.createTempDirectory("clinvarstore").toFile.getAbsolutePath
    val incoming = Seq((1L, "usher syndrome", "RCV1"), (2L, "fresh", null))
      .toDF("rgd_id", "value", "notes")
    val diff = Aliases.diff(incoming, Aliases.read(spark, store))

    // an audit starts exactly the jobs of its write: the read-back adds none
    val writeJobs = jobsOf(diff.write.parquet(s"$store/plain"))
    var audits = Seq.empty[ClinvarStore.Audit]
    assert(jobsOf {
      audits = ClinvarStore.audit(store, Seq(Aliases -> diff), ClinvarStore.ByEntity)
    } === writeJobs)

    ClinvarStore.publish(store, audits)
    assert(jobsOf(Aliases.read(spark, store)) === 0)
    assert(Aliases.read(spark, store).as[(Long, String, Option[String])].collect().toSet ===
      Set((1L, "usher syndrome", Some("RCV1")), (2L, "fresh", None)))
  }

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("clinvarstore").toFile.getAbsolutePath

  /** An aliases diff with `n(a)` rows of each action `a`. */
  private def aliasDiff(n: Map[String, Int]): DataFrame =
    n.toSeq.flatMap { case (a, k) => (1 to k).map(i => (i.toLong, s"$a$i", "RCV1", a)) }
      .toDF("rgd_id", "value", "notes", "action")

  private def groupByCounts(t: DataFrame, group: Column): Map[(String, String), Long] =
    t.groupBy(group.as("g"), col("action")).count()
      .as[(String, String, Long)].collect().map { case (g, a, c) => (g, a) -> c }.toMap

  test("audit counters are observed on the write and equal a groupBy of the audit") {
    import ClinvarStore.{Aliases, Annotations}
    val store = tmpStore()
    // every action of a ClinVar diff, keep and keep_stale included
    val n = ClinvarStore.Actions.zipWithIndex.map { case (a, i) => a -> (i + 1) }.toMap
    val Seq(aliases) = ClinvarStore.audit(store, Seq(Aliases -> aliasDiff(n)), ClinvarStore.ByEntity)
    assert(aliases.counters === groupByCounts(aliases.table, lit(Aliases.name)))
    assert(aliases.counters === n.map { case (a, k) => (Aliases.name, a) -> k.toLong })
    // an empty diff still completes its observation: no counters
    val Seq(empty) = ClinvarStore.audit(store, Seq(Aliases -> aliasDiff(Map.empty)), ClinvarStore.ByEntity)
    assert(empty.counters === Map.empty)

    // annotate's grouping: the aspect column, both aspects
    val annots = Seq(
      (1L, "DOID:1", AnnotatePipeline.Disease, "insert"),
      (2L, "DOID:2", AnnotatePipeline.Disease, "keep_stale"),
      (3L, "DOID:3", AnnotatePipeline.Disease, "keep_stale"),
      (1L, "HP:1", AnnotatePipeline.Phenotype, "match"),
      (2L, "HP:2", AnnotatePipeline.Phenotype, "delete"))
      .toDF("annotated_rgd_id", "term_acc", "aspect", "action")
      .withColumn("evidence", lit("IAGP")).withColumn("xref_source", lit(""))
      .withColumn("with_info", lit(null).cast("string"))
    val Seq(a) = ClinvarStore.audit(store, Seq(Annotations -> annots),
      _ => ClinvarStore.Groups(col("aspect"), AnnotatePipeline.Aspects))
    assert(a.counters === groupByCounts(a.table, col("aspect")))
    assert(a.counters === Map(("D", "insert") -> 1L, ("D", "keep_stale") -> 2L,
      ("H", "match") -> 1L, ("H", "delete") -> 1L))
  }

  test("an audit row outside the counted groups and actions fails the audit") {
    val store = tmpStore()
    val e = intercept[IllegalStateException] {
      ClinvarStore.audit(store,
        Seq(ClinvarStore.Aliases -> aliasDiff(Map("insert" -> 2, "renamed" -> 1))),
        ClinvarStore.ByEntity)
    }
    assert(e.getMessage.contains("1 of 3 rows"), e.getMessage)
  }

  test("a publish starts no job beyond its snapshot writes") {
    import ClinvarStore.Aliases
    val (store, plain) = (tmpStore(), tmpStore())
    val audits = ClinvarStore.audit(
      store, Seq(Aliases -> aliasDiff(Map("insert" -> 3, "keep" -> 1))), ClinvarStore.ByEntity)
    val t = audits.head.table
    // the same bucketed snapshot write, by hand, into a second store
    val writeJobs = jobsOf(SnapshotStore.publishBucketed(plain, Seq(Aliases.name ->
      SnapshotStore.BucketedEntity(
        DiffSync.nextSnapshot(t, Aliases.keyCols, Aliases.contentCols),
        t.filter(col("action").isin(DiffSync.Changed: _*)), Aliases.keyCols, 1))))
    assert(jobsOf(ClinvarStore.publish(store, audits)) === writeJobs)
    assert(Aliases.read(spark, store).count() === 4L)
  }

  test("a failed audit write leaves MANIFEST byte-identical") {
    import java.nio.file.{Files, Paths}
    import ClinvarStore.{Aliases, GeneAssociations}
    val store = tmpStore()
    def genes(ids: Long*) = ids.map(i => (i, s"g$i", "insert")).toDF("rgd_id", "gene_id", "action")
    ClinvarStore.publish(store, ClinvarStore.audit(store,
      Seq(GeneAssociations -> genes(1L, 2L), Aliases -> aliasDiff(Map("insert" -> 2))),
      ClinvarStore.ByEntity))
    val manifest = Files.readAllBytes(Paths.get(store, SnapshotStore.ManifestName))
    val boom = udf((v: String) => { if (v != null) throw new IllegalStateException("injected"); v })
    intercept[Exception] {
      ClinvarStore.publish(store, ClinvarStore.audit(store, Seq(
        GeneAssociations -> genes(3L, 4L, 5L),
        Aliases -> aliasDiff(Map("insert" -> 3)).withColumn("notes", boom(col("notes")))),
        ClinvarStore.ByEntity))
    }
    assert(Files.readAllBytes(Paths.get(store, SnapshotStore.ManifestName)) === manifest,
      "a failed audit write flipped the manifest")
    assert(GeneAssociations.read(spark, store).count() === 2L)
  }
}
