package graft.ops

import graft.SparkSpec

class ClosureSpec extends SparkSpec {
  import spark.implicits._

  test("ancestors: multi-parent diamond closes over BOTH branches (J14)") {
    // A <- B <- D, A <- C <- D (diamond), D <- E
    val edges = Seq(("B", "A"), ("C", "A"), ("D", "B"), ("D", "C"), ("E", "D"))
      .toDF("child", "parent")
    val closure = Closure.ancestors(edges)
      .as[(String, String)].collect().toSet
    assert(closure === Set(
      ("B", "A"), ("C", "A"),
      ("D", "B"), ("D", "C"), ("D", "A"),
      ("E", "D"), ("E", "B"), ("E", "C"), ("E", "A")))
  }

  test("ancestors: deep chain converges in O(log L) rounds (path doubling)") {
    // chain of length 40 would blow a 20-round LINEAR walk; doubling
    // needs ~6 (driverThreshold = 0 forces the distributed path)
    val edges = (1 until 40).map(i => (s"T$i", s"T${i + 1}")).toDF("child", "parent")
    val closure = Closure.ancestors(edges, maxRounds = 8, driverThreshold = 0)
    assert(closure.count() === (39L * 40L) / 2L) // all i<j pairs
  }

  test("driver and distributed paths agree; cycles throw on both") {
    val edges = Seq(("B", "A"), ("C", "A"), ("D", "B"), ("D", "C"))
      .toDF("child", "parent")
    val viaDriver = Closure.ancestors(edges).as[(String, String)].collect().toSet
    val viaCluster = Closure.ancestors(edges, driverThreshold = 0)
      .as[(String, String)].collect().toSet
    assert(viaDriver === viaCluster)
    val cyclic = Seq(("A", "B"), ("B", "A")).toDF("child", "parent")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](Closure.ancestors(cyclic))
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached,
      "the driver path's back-edge throw left cached RDDs")
    intercept[IllegalStateException](
      Closure.ancestors(cyclic, maxRounds = 5, driverThreshold = 0))
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached,
      "the distributed path's reflexive-pair throw left cached RDDs")
    // a 1-round cap throws before convergence
    intercept[IllegalStateException](
      Closure.ancestors(cyclic, maxRounds = 1, driverThreshold = 0))
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached,
      "the distributed path's round-cap throw left cached RDDs")
  }

  test("sameBranchPairs is symmetric") {
    val edges = Seq(("B", "A")).toDF("child", "parent")
    val pairs = Closure.sameBranchPairs(Closure.ancestors(edges))
      .as[(String, String)].collect().toSet
    assert(pairs === Set(("B", "A"), ("A", "B")))
  }
}
