package graft.pipelines

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

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
    var audits = Seq.empty[(ClinvarStore.Entity, DataFrame)]
    assert(jobsOf { audits = ClinvarStore.audit(store, Seq(Aliases -> diff)) } === writeJobs)

    ClinvarStore.publish(store, audits, e => lit(e.name))
    assert(jobsOf(Aliases.read(spark, store)) === 0)
    assert(Aliases.read(spark, store).as[(Long, String, Option[String])].collect().toSet ===
      Set((1L, "usher syndrome", Some("RCV1")), (2L, "fresh", None)))
  }
}
