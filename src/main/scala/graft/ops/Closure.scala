package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Transitive ancestor closure over a multi-parent DAG edge table — the
  * set-oriented form of the reference's per-pair ontology ancestry
  * probes (Dao.isDescendantOf, Dao.java:629-631, backed by the RGD
  * ontology DAG) used by duplicate-term QC's separate-branch check
  * (TermNameMatcher.termsOnSeparateOntBranches,
  * TermNameMatcher.java:129-133).
  *
  * Two execution paths, switched on edge count:
  *
  *  - Ontology DAGs are BOUNDED DIMS (tens of thousands of terms). Up to
  *    `driverThreshold` edges the closure is computed on the driver with
  *    one memoized DFS and parallelized back out — milliseconds, versus
  *    seconds of per-round scheduling for an iterative distributed job.
  *    This is the same broadcast-sized-dim idiom as [[Fixpoint]]: the
  *    100 TB fact side only ever joins the FINAL materialized closure.
  *  - Above the threshold: distributed path doubling — each round unions
  *    the closure with its self-join, so covered path length doubles and
  *    a DAG of depth L converges in O(log L) shuffle-join rounds.
  *
  * The switch and the rounds run on [[Rounds]], whose scaladoc says why
  * every round is a locally-checkpointed cut.
  */
object Closure {

  /** All (term, ancestor) pairs reachable through `edges`.
    *
    * @param edges child/parent columns, one row per direct edge;
    *              multi-parent rows are the point (a DAG, not a chain —
    *              [[Fixpoint.resolve]] handles the one-successor case)
    * @param driverThreshold edge count up to which the dim-sized driver
    *              path runs; pass 0 to force distributed path doubling.
    *              NB the real budget is the CLOSURE size (edges × depth,
    *              quadratic for chain-shaped graphs) — the default is
    *              conservative because a graph whose closure doesn't fit
    *              the driver is painful distributed too (the output IS
    *              the closure)
    */
  def ancestors(
      edges: DataFrame,
      childCol: String = "child",
      parentCol: String = "parent",
      maxRounds: Int = 20,
      driverThreshold: Long = 500000L): DataFrame = {
    val e = edges
      .select(col(childCol).as("term"), col(parentCol).as("ancestor"))
      .distinct()
    Rounds.sized(e, driverThreshold, e.schema)(driverClosure)(distributedClosure(_, _, maxRounds))
  }

  /** Dim-sized path: memoized iterative DFS (explicit stack — no
    * recursion-depth limit) over the collected edges. Cycles surface as
    * an IllegalStateException, like the distributed path's round cap.
    */
  private def driverClosure(pairs: Array[(Any, Any)]): Seq[Row] = {
    val parents = new mutable.HashMap[Any, mutable.ArrayBuffer[Any]]()
    pairs.foreach { case (c, p) =>
      parents.getOrElseUpdate(c, new mutable.ArrayBuffer[Any]()) += p
    }
    val anc = new mutable.HashMap[Any, Set[Any]]()
    val state = new mutable.HashMap[Any, Int]() // 0 new, 1 in progress, 2 done
    val stack = new mutable.ArrayDeque[(Any, Boolean)]()
    parents.keysIterator.foreach { root =>
      stack.append((root, false))
      while (stack.nonEmpty) {
        val (node, emit) = stack.removeLast()
        if (emit) {
          val ps = parents.getOrElse(node, mutable.ArrayBuffer.empty)
          anc(node) = ps.toSet ++ ps.iterator.flatMap(p => anc.getOrElse(p, Set.empty))
          state(node) = 2
        } else if (state.getOrElse(node, 0) == 0) {
          state(node) = 1
          stack.append((node, true))
          parents.getOrElse(node, mutable.ArrayBuffer.empty).foreach { p =>
            state.getOrElse(p, 0) match {
              case 1 => throw new IllegalStateException(
                "closure found a cycle in the DAG (back edge at " + p + ")")
              case 0 => stack.append((p, false))
              case _ => // done
            }
          }
        }
      }
    }
    anc.iterator.flatMap { case (t, as) => as.iterator.map(a => Row(t, a)) }.toSeq
  }

  /** Path doubling for graphs too big to collect; join strategy per
    * round is left to AQE (re-broadcasting the GROWING closure costs
    * more than the shuffle it saves once it passes ~1M pairs).
    */
  private def distributedClosure(e: DataFrame, edgeCount: Long, maxRounds: Int): DataFrame = {
    var n = edgeCount
    Rounds.iterate(e, maxRounds,
        s"closure did not converge after $maxRounds rounds (cycle in DAG?)") { cur =>
      val hop = cur.select(col("term").as("h_term"), col("ancestor").as("h_anc"))
      (cur
        .unionByName(
          cur.join(hop, cur("ancestor") === col("h_term"))
            .select(cur("term"), col("h_anc").as("ancestor")))
        .distinct(),
        next => {
          // one aggregate per round: its row count and reflexive pairs
          val r = next.agg(count(lit(1)), count(when(col("term") === col("ancestor"), 1))).head()
          val grew = r.getLong(0) != n
          n = r.getLong(0)
          // a cycle closes onto itself: doubling CONVERGES (the closure
          // is finite) but leaves reflexive pairs — surface it like the
          // driver path's back-edge detection rather than returning them
          if (!grew && r.getLong(1) > 0)
            throw new IllegalStateException("closure found a cycle in the DAG (reflexive pair)")
          grew
        })
    }
  }

  /** (acc_a, acc_b) pairs that sit on the SAME branch — one is an
    * ancestor of the other (the complement of
    * `termsOnSeparateOntBranches`). Symmetric: both orientations match.
    */
  def sameBranchPairs(closure: DataFrame): DataFrame =
    closure.select(col("term").as("acc_a"), col("ancestor").as("acc_b"))
      .unionByName(
        closure.select(col("ancestor").as("acc_a"), col("term").as("acc_b")))
      .distinct()
}
