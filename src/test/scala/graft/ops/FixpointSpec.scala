package graft.ops

import graft.SparkSpec

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("chains resolve to their terminal node on both paths (X12)") {
    // 1->2->3->4 (4 not a key: terminal), 9->4
    val subs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 4L)).toDF("o", "n")
    val expected = Set((1L, 4L), (2L, 4L), (3L, 4L), (9L, 4L))
    val viaDriver = Fixpoint.resolve(subs, "o", "n")
      .as[(Long, Long)].collect().toSet
    val viaCluster = Fixpoint.resolve(subs, "o", "n", driverThreshold = 0)
      .as[(Long, Long)].collect().toSet
    assert(viaDriver === expected)
    assert(viaCluster === expected)
  }

  test("long chain converges (memoized walk / log-round pointer jumping)") {
    val subs = (1 until 300).map(i => (i.toLong, i + 1L)).toDF("o", "n")
    val r = Fixpoint.resolve(subs, "o", "n").as[(Long, Long)].collect()
    assert(r.length === 299 && r.forall(_._2 === 300L))
  }

  test("cycles throw on both paths") {
    val cyclic = Seq((1L, 2L), (2L, 1L)).toDF("o", "n")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](Fixpoint.resolve(cyclic, "o", "n"))
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached,
      "the driver path's cycle throw left cached RDDs")
    intercept[IllegalStateException](
      Fixpoint.resolve(cyclic, "o", "n", maxRounds = 5, driverThreshold = 0))
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached,
      "the distributed path's round-cap throw left cached RDDs")
  }
}
