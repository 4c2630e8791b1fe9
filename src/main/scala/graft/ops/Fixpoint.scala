package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Iterative fixpoint resolution over a substitution table — the Spark
  * shape of the reference's recursive obsolete-SO-term substitution
  * (reference: Dao.validateSoAccId, Dao.java:542-574: replaced_by
  * chains are followed until a non-obsolete term is reached) and of
  * ontology-ancestry closure probes (TermNameMatcher.java:129-133).
  *
  * Like [[Closure]], two paths switched on table size: substitution
  * dims are ontology-sized, so up to `driverThreshold` rows the chains
  * are followed on the driver with one memoized walk (milliseconds);
  * above it, distributed pointer jumping — substitute through the
  * PARTIALLY-RESOLVED table, not the raw edges, so a chain of length L
  * converges in O(log L) broadcast-join rounds. Either way the 100 TB
  * fact table never iterates: it joins the FINAL materialized map. The
  * switch and the rounds run on [[Rounds]], whose scaladoc says why
  * every round is a locally-checkpointed cut.
  */
object Fixpoint {

  /** Resolve every `oldCol` to the end of its substitution chain.
    * Returns (old_id, resolved_id). Cycles throw.
    *
    * @param driverThreshold row count up to which the dim-sized driver
    *        path runs; pass 0 to force distributed pointer jumping
    */
  def resolve(
      subs: DataFrame,
      oldCol: String,
      newCol: String,
      maxRounds: Int = 20,
      driverThreshold: Long = 2000000L): DataFrame = {
    // distinct first so both paths agree on row multiplicity for inputs
    // carrying duplicate substitution rows (same idiom as Closure/Dedup)
    val edges = subs.select(col(oldCol).as("old_id"), col(newCol).as("resolved_id")).distinct()
    Rounds.sized(edges, driverThreshold, edges.schema)(driverResolve) { (e, _) =>
      Rounds.iterate(e, maxRounds,
          s"fixpoint did not converge after $maxRounds rounds (cycle in substitutions?)") { cur =>
        // pointer jumping: follow resolved_id through the current table;
        // the round carries whether a row jumped, and the one aggregate
        // that reads it also materializes the cut
        val jump = cur.select(col("old_id").as("j_old"), col("resolved_id").as("j_new"))
        (cur.join(broadcast(jump), cur("resolved_id") === col("j_old"), "left")
          .select(col("old_id"),
            coalesce(col("j_new"), col("resolved_id")).as("resolved_id"),
            col("j_new").isNotNull.as("jumped")),
          next => next.agg(coalesce(max(col("jumped")), lit(false))).head().getBoolean(0))
      }.drop("jumped")
    }
  }

  /** Dim-sized path: follow every chain of the collected substitution
    * map once with memoization (path compression). Cycles throw like
    * the distributed path's round cap.
    */
  private def driverResolve(pairs: Array[(Any, Any)]): Seq[Row] = {
    val next = new scala.collection.mutable.HashMap[Any, Any]()
    pairs.foreach { case (o, n) => next(o) = n }
    val resolved = new scala.collection.mutable.HashMap[Any, Any]()
    next.keysIterator.foreach { start =>
      if (!resolved.contains(start)) {
        val path = new scala.collection.mutable.ArrayBuffer[Any]()
        val onPath = new scala.collection.mutable.HashSet[Any]()
        var cur: Any = start
        while (next.contains(cur) && !resolved.contains(cur)) {
          if (onPath.contains(cur))
            throw new IllegalStateException(
              "fixpoint found a cycle in the substitutions at " + cur)
          path += cur
          onPath += cur
          cur = next(cur)
        }
        val end = resolved.getOrElse(cur, cur)
        path.foreach(p => resolved(p) = end)
      }
    }
    resolved.iterator.map { case (o, r) => Row(o, r) }.toSeq
  }
}
