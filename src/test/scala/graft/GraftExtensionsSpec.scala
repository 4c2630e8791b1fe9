package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL surface: trim_utf8_bytes / dot_product / sqdist_long / word_shingles registered") {
    GraftExtensions.register(spark)
    Seq(("x" * 50, Seq(1.0, 2.0), Seq(3.0, 4.0), "a b c d"))
      .toDF("s", "va", "vb", "t")
      .createOrReplaceTempView("ext_t")
    val row = spark.sql(
      """SELECT trim_utf8_bytes(s, 12) AS trimmed,
        |       dot_product(va, vb) AS dp,
        |       sqdist_long(array(1L, 5L), array(4L, 1L)) AS d2,
        |       word_shingles(split(t, ' '), 2) AS sh
        |FROM ext_t""".stripMargin)
      .as[(String, Double, Long, Seq[String])].head()
    assert(row._1 === "x" * 8 + " ...")
    assert(row._2 === 11.0)
    assert(row._3 === 25L) // 3^2 + 4^2
    assert(row._4 === Seq("a b", "b c", "c d"))
  }

  test("config route: a session built with GraftExtensions resolves the SQL names") {
    // the spark.sql.extensions route: the builder hands the extension to
    // a NEW session on the shared context, and nothing calls register()
    val shared = spark
    try {
      val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
      val row = ext.sql(
        "SELECT trim_utf8_bytes(repeat('x', 50), 12) AS t, " +
          "word_shingles(split('a b c d', ' '), 2) AS sh").head()
      assert(row.getString(0) === "x" * 8 + " ...")
      assert(row.getSeq[String](1) === Seq("a b", "b c", "c d"))
    } finally {
      // never stop `ext`: it shares the suite's SparkContext
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("SQL surface: argmax_tie_min aggregates with min-id tie-break, in HashAggregate") {
    GraftExtensions.register(spark)
    Seq((1L, 10L, 1.0), (1L, 3L, 2.0), (1L, 2L, 2.0), (2L, 7L, 0.5))
      .toDF("g", "id", "score")
      .createOrReplaceTempView("ext_agg")
    val df = spark.sql(
      "SELECT g, argmax_tie_min(id, score) AS best FROM ext_agg GROUP BY g")
    val out = df.as[(Long, Long)].collect().toMap
    // g=1: max score 2.0 tied between ids 3 and 2 -> smallest id wins
    assert(out === Map(1L -> 2L, 2L -> 7L))
    // the whole point: a fixed-width buffer keeps the agg hash-based
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan.take(500))
  }

  test("argmax_tie_min is partitioning-invariant (merge path == single partition)") {
    // ties planted across partitions: the merge expressions must
    // resolve (score, then min id) identically however rows are split
    val rnd = new scala.util.Random(13)
    val rows = (1L to 500L).map { i =>
      (i % 7, i, (rnd.nextInt(5) * 0.25): Double) // few distinct scores -> many ties
    }
    val base = rows.toDF("g", "id", "score")
    def result(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("g")
      .agg(graft.functions.ArgMaxTieMin(col("id"), col("score")).as("best"))
      .as[(Long, Long)].collect().toMap
    val one = result(base.coalesce(1))
    (2 to 13 by 11).foreach { p =>
      assert(result(base.repartition(p)) === one, s"diverged at $p partitions")
    }
  }

  test("non-literal maxBytes is rejected with a clear error") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT trim_utf8_bytes('abc', length('abcd'))").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getCause != null && e.getCause.getMessage.contains("integer literal"))
  }
}

/** S7 at scale: chromosome-partitioned layout → partition pruning.
  * The reference parallelizes per-chromosome by hand (25 JDBC scans,
  * Clinvar2Vcf.java:41-59); with a `partitionBy("chr")` layout a chr
  * filter prunes directories before any IO — the plan proves it.
  */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  test("chr-partitioned write + filter prunes to one partition directory") {
    val dir = java.nio.file.Files.createTempDirectory("chrpart").toString
    (1 to 1000).map(i => (i.toLong, (i % 5 + 1).toString, i * 10L))
      .toDF("variant_id", "chr", "pos")
      .write.partitionBy("chr").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter($"chr" === "3")
    assert(pruned.count() === 200)
    val plan = pruned.queryExecution.executedPlan.toString
    // FileSourceScan reports the pruned partition count / filters
    assert(plan.contains("PartitionFilters") || plan.contains("partition"), plan.take(500))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("chr"), scan.take(300))
  }
}
