package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** The one kernel of the size-switched iterative operators
  * ([[Fixpoint.resolve]], [[Closure.ancestors]],
  * graft.scale.Dedup.connectedComponents): a size switch between a
  * driver solver and a distributed round loop, and that round loop.
  * graft.scale.Bpe.trainMerges re-roots its merge iterations through
  * [[cut]] too.
  *
  * Why a round is re-rooted on its own locally-checkpointed RDD — the
  * r13 lineage finding, held here once:
  *
  *  - '''The 2^rounds plan walk.''' A plain-persisted round embeds the
  *    previous round's full plan (an `InMemoryRelation` carries its
  *    child plan, recursively), and every round references the
  *    previous one more than once: cur + jump in Fixpoint, join + union
  *    in connected components, union + both join sides in Closure.
  *    Per-execution plan bookkeeping (the listener's `SparkPlanInfo`,
  *    plan descriptions, canonicalization) walks the nested trees once
  *    per PATH, so driver time grows as k^rounds at any data size
  *    (measured: 3.6 s of driver time to count a 386-row cache under
  *    seven layers).
  *  - '''The lineage StackOverflow and the driver OOM.''' Persist never
  *    truncates RDD dependencies (eviction recompute needs them), so
  *    task serialization recurses the whole round chain: BPE training
  *    overflowed the DAGScheduler stack near 40 merge iterations, and
  *    connected components OOM'd a 4.6 GiB driver at ~30 rounds on a
  *    3M-edge diameter-30 chain graph (`Profile ccdeep`, 90.7 s and
  *    correct once cut) — data that is trivially small.
  *  - '''Neither a plain persist nor [[CacheScope.cut]].''' A persist
  *    bounds neither of the two. `CacheScope.cut` makes the plan a
  *    `LogicalRDD` leaf but keeps the RDD lineage on purpose, so an
  *    evicted block recomputes; that bounds the plan walk, not the
  *    serialization depth. A local checkpoint bounds both: the plan is a
  *    leaf and the lineage truncates at the round's first action. The
  *    price is that a locally-checkpointed block cannot recompute, so
  *    a round is released only after its successor is materialized,
  *    and the final round is terminal (see [[CacheScope.registerRdd]]).
  */
private[graft] object Rounds {

  /** Re-root `df` on its own locally-checkpointed RDD; returns the new
    * frame and the RDD that holds its blocks (for the caller's release).
    */
  def cut(df: DataFrame): (DataFrame, RDD[Row]) = {
    val r = df.rdd
    r.localCheckpoint()
    (df.sparkSession.createDataFrame(r, df.schema), r)
  }

  /** The size switch: persist and count the prepared `edges`; up to
    * `driverThreshold` rows, collect them as pairs of the first two
    * columns and parallelize `solve`'s rows back as `schema`; above it,
    * run `distributed(edges, count)`. The edge table is unpersisted on
    * every exit.
    *
    * The driver path ships ~10k rows per partition: parallelize puts
    * each partition's rows INSIDE its task binary, so the batch size is
    * a task-size knob (100k small rows made ~12 MB tasks, Spark warns
    * above 1 MB); at the dim scale this path is gated to (a few million
    * rows at most) the extra tasks are noise.
    */
  def sized(edges: DataFrame, driverThreshold: Long, schema: StructType)(
      solve: Array[(Any, Any)] => Seq[Row])(
      distributed: (DataFrame, Long) => DataFrame): DataFrame = {
    val e = edges.persist()
    try {
      val n = e.count()
      if (n <= driverThreshold) {
        val rows = solve(e.collect().map(r => (r.get(0), r.get(1))))
        val spark = e.sparkSession
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000 + 1)), schema)
      } else distributed(e, n)
    } finally e.unpersist()
  }

  /** The round loop: cut `first`, then while the last round changed
    * something, cut the plan `step` builds from the current round and
    * hand the cut to the check `step` returned with it. The check's
    * action must materialize the cut (the superseded round is released
    * right after it) and says whether the round changed anything.
    * Throws `IllegalStateException(capError)` past `maxRounds` rounds;
    * a throw from the cap, a step or a check releases every live round.
    * The final round is registered with [[CacheScope]] and returned.
    */
  def iterate(first: DataFrame, maxRounds: Int, capError: String)(
      step: DataFrame => (DataFrame, DataFrame => Boolean)): DataFrame = {
    var (cur, curRdd) = cut(first)
    var round = 0
    var changed = true
    try {
      while (changed) {
        if (round >= maxRounds) throw new IllegalStateException(capError)
        val (plan, check) = step(cur)
        val (next, nextRdd) = cut(plan)
        try changed = check(next)
        catch { case t: Throwable => nextRdd.unpersist(blocking = false); throw t }
        curRdd.unpersist(blocking = false)
        cur = next
        curRdd = nextRdd
        round += 1
      }
    } catch { case t: Throwable => curRdd.unpersist(blocking = false); throw t }
    // the returned frame scans the cached final round; released by the
    // query driver's CacheScope (terminal — see registerRdd's caveat)
    CacheScope.registerRdd(curRdd)
    cur
  }
}
