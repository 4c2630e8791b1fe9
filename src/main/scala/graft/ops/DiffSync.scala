package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential-sync (CDC) meta-operator — the core of the reference engine.
  *
  * Every entity in the reference follows the same 4-way classification of
  * incoming vs in-store rows → {insert, update, delete, match}
  * (reference: Loader.java:25-87; GeneAssociations.sync:78-109;
  * XdbIds.qc/sync:82-146; MapPositions.qc/sync:104-152; HgvsNames.qc/
  * sync:36-101; Aliases.qc/sync:51-138; AnnotCache.qcAndLoadAnnots:28-77).
  * The reference does it with per-record JDBC point lookups; here it is a
  * single `full_outer` join on the natural key — one shuffle on each side,
  * scales linearly, and AQE handles skewed keys.
  *
  * Output schema: natural-key columns, each content column (incoming
  * value, null for deletes), each content column with the [[OldSuffix]]
  * (current-store value, null for inserts), and `action`.
  *
  * The classified frame doubles as the reference's per-entity audit logs
  * (Dao.java:32-43, log4j2.xml): write it out and K8's observability
  * contract falls out for free.
  */
object DiffSync {

  val ActionCol = "action"

  /** Suffix of a content column's current-store copy in a diff. */
  val OldSuffix = "_old"

  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"
  val Match = "match"
  /** A delete held back by [[guardDeletes]]/[[guardDeletesBy]]: the row stays. */
  val KeepStale = "keep_stale"

  /** The actions that change the stored rows. */
  val Changed: Seq[String] = Seq(Insert, Update, Delete)

  /** Classify `incoming` vs `current` on `keyCols`; equality of
    * `contentCols` (null-safe) decides update vs match.
    * Both inputs are assumed unique per key (reference invariant: natural
    * keys are unique in Oracle).
    */
  def apply(
      incoming: DataFrame,
      current: DataFrame,
      keyCols: Seq[String],
      contentCols: Seq[String]): DataFrame = {
    val inc = incoming
      .select((keyCols ++ contentCols).map(col): _*)
      .withColumn("_g_inc", lit(true))
    val cur = current
      .select(keyCols.map(col) ++ contentCols.map(c => col(c).as(c + OldSuffix)): _*)
      .withColumn("_g_cur", lit(true))
    val joined = inc.join(cur, keyCols, "full_outer")
    val changed = contentCols
      .map(c => !(col(c) <=> col(c + OldSuffix)))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    joined
      .withColumn(
        ActionCol,
        when(col("_g_cur").isNull, Insert)
          .when(col("_g_inc").isNull, Delete)
          .when(changed, Update)
          .otherwise(Match))
      .drop("_g_inc", "_g_cur")
  }

  /** Reference counter-style summary (GlobalCounters.java:10-30). */
  def counts(diff: DataFrame): DataFrame =
    diff.groupBy(ActionCol).count()

  /** Threshold-guarded delete: the reference aborts stale-row GC when the
    * number of deletes exceeds a fraction of the existing rows (8% for xdb
    * ids — Dao.deleteStaleXdbIds, Dao.java:409-436; 5% per aspect for
    * annotations — Dao.deleteObsoleteAnnotations, Dao.java:690-729).
    * Deletes above the ceiling are downgraded to `keep_stale`.
    *
    * The two counts ride along via a broadcast cross-join of a 1-row
    * aggregate — no driver collect, one extra (tiny) stage.
    */
  def guardDeletes(diff: DataFrame, maxDeleteFraction: Double): DataFrame = {
    val stats = diff.agg(
      sum(when(col(ActionCol) === Delete, 1L).otherwise(0L)).as("_g_ndel"),
      sum(when(col(ActionCol) =!= Insert, 1L).otherwise(0L)).as("_g_ncur"))
    diff
      .crossJoin(broadcast(stats))
      .withColumn(
        ActionCol,
        when(
          col(ActionCol) === Delete &&
            col("_g_ndel") > col("_g_ncur") * maxDeleteFraction,
          lit(KeepStale))
          .otherwise(col(ActionCol)))
      .drop("_g_ndel", "_g_ncur")
  }

  /** Per-group threshold-guarded delete: the reference applies the
    * annotation ceiling PER ASPECT (D disease / H phenotype —
    * Dao.deleteObsoleteAnnotations, Dao.java:690-729), so one aspect's
    * delete storm cannot be hidden by the other's volume. Counts are
    * computed per `byCols` group and broadcast back.
    *
    * The basis differs from [[guardDeletes]] deliberately: the xdb
    * guard (Dao.deleteStaleXdbIds:409-436) compares the RAW stale count
    * against pct·orig, but the annotation guard compares the NET count
    * decrease — Dao.java:705-708 aborts iff
    * `newAnnotCount - origAnnotCount < -limit` where newAnnotCount
    * already includes this run's inserts, i.e. iff
    * `deletes - inserts > limit`. A load that replaces annotations
    * (many inserts alongside many stale deletes) keeps its delete
    * budget in the reference, and must here too. (The reference's
    * integer `(pct·orig)/100` limit and this float comparison agree for
    * every integer count: no integer lies in (floor(x), x].)
    */
  def guardDeletesBy(
      diff: DataFrame,
      byCols: Seq[String],
      maxDeleteFraction: Double): DataFrame = {
    val stats = diff.groupBy(byCols.map(col): _*).agg(
      sum(when(col(ActionCol) === Delete, 1L).otherwise(0L)).as("_g_ndel"),
      sum(when(col(ActionCol) === Insert, 1L).otherwise(0L)).as("_g_nins"),
      sum(when(col(ActionCol) =!= Insert, 1L).otherwise(0L)).as("_g_ncur"))
    diff
      .join(broadcast(stats), byCols, "left")
      .withColumn(
        ActionCol,
        when(
          col(ActionCol) === Delete &&
            col("_g_ndel") - col("_g_nins") > col("_g_ncur") * maxDeleteFraction,
          lit(KeepStale))
          .otherwise(col(ActionCol)))
      .drop("_g_ndel", "_g_nins", "_g_ncur")
  }

  /** The next snapshot: incoming rows for insert/update/match, current
    * rows for guarded (kept) deletes. This is the write side of the merge
    * — rewrite the Parquet snapshot partition-by-partition.
    */
  def nextSnapshot(
      diff: DataFrame,
      keyCols: Seq[String],
      contentCols: Seq[String]): DataFrame = {
    val keep = diff.filter(col(ActionCol) =!= Delete)
    val picked = contentCols.map { c =>
      // diffs from operators without an old-side copy (e.g. AliasSync)
      // carry no *_old columns — the current value is the value
      if (diff.columns.contains(c + OldSuffix))
        when(col(ActionCol) === KeepStale, col(c + OldSuffix))
          .otherwise(col(c))
          .as(c)
      else col(c)
    }
    keep.select(keyCols.map(col) ++ picked: _*)
  }
}
