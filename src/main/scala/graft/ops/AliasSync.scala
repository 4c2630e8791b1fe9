package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RCV-scoped, case-insensitive alias synchronization — the set-oriented
  * shape of the reference's per-record alias QC (Aliases.qc,
  * Aliases.java:51-90):
  *
  *  1. a stored alias whose notes (its RCV id) fall OUTSIDE the record's
  *     valid RCV set is deleted regardless of value;
  *  2. remaining stored aliases match incoming values CASE-INSENSITIVELY;
  *  3. an unmatched stored alias is deleted only when its notes equal the
  *     record's PRIMARY RCV id (other in-set aliases are left alone);
  *  4. unmatched incoming aliases insert with notes = the primary RCV.
  *
  * Only variants present in the incoming batch take part — aliases of
  * unprocessed variants are out of the diff (the reference runs qc per
  * processed record; stale variants are handled by the GC cutoff, not
  * here). All joins key on (rgd_id[, lower(value)]) — high-cardinality
  * shuffle keys, no per-record loops. Semi/anti join right sides are not
  * deduplicated: their duplicates cannot change the result.
  */
object AliasSync {

  /** A stored alias left alone: neither matched nor deleted (step 3). */
  val Keep = "keep"

  /** @param incoming rgd_id, value, rcv_acc (the record's primary RCV)
    * @param current  rgd_id, value, notes (the alias's RCV id, nullable)
    * @param rcvSets  rgd_id, rcv — one row per valid RCV of the record
    * @return rgd_id, value, notes, action in insert|match|delete|keep
    */
  def apply(incoming: DataFrame, current: DataFrame, rcvSets: DataFrame): DataFrame = {
    val processed = incoming.select("rgd_id")
    val cur = current.join(processed, Seq("rgd_id"), "left_semi")

    // 1) RCV-scope filter (Aliases.java:55-65); rcvSets is deduplicated:
    //    a repeated RCV would repeat the stored alias in the LEFT join
    val inScope = cur.join(
      rcvSets.select(col("rgd_id"), col("rcv").as("notes")).distinct()
        .withColumn("_in_set", lit(true)),
      Seq("rgd_id", "notes"), "left")
    val outOfScope = inScope
      .filter(col("notes").isNotNull && !coalesce(col("_in_set"), lit(false)))
      .select("rgd_id", "value", "notes")
      .withColumn("action", lit("delete"))
    val candidates = inScope
      .filter(col("notes").isNull || coalesce(col("_in_set"), lit(false)))
      .drop("_in_set")
      .withColumn("_lv", lower(col("value")))

    // 2) case-insensitive value match (Aliases.detach, Aliases.java:94-106)
    val incLv = incoming
      .select(col("rgd_id"), lower(col("value")).as("_lv"))
    val matched = candidates
      .join(incLv, Seq("rgd_id", "_lv"), "left_semi")
      .select("rgd_id", "value", "notes")
      .withColumn("action", lit("match"))

    // 3) unmatched stored alias: delete iff notes == primary RCV
    //    (Aliases.java:85-90); other in-set aliases stay untouched.
    //    Two incoming records can identity-match ONE variant (stage-3
    //    name fallback) with different RCVs — min() picks one primary
    //    deterministically so no stored alias gets contradictory actions
    val primary = incoming.groupBy(col("rgd_id")).agg(min(col("rcv_acc")).as("rcv_acc"))
    val unmatchedStore = candidates
      .join(incLv, Seq("rgd_id", "_lv"), "left_anti")
      .join(primary, Seq("rgd_id"), "left")
      .withColumn("action", when(col("notes") <=> col("rcv_acc"), "delete").otherwise(Keep))
      .select("rgd_id", "value", "notes", "action")

    // 4) incoming with no CI match among in-scope stored aliases: insert
    val curLv = candidates.select("rgd_id", "_lv")
    val inserts = incoming
      .withColumn("_lv", lower(col("value")))
      .join(curLv, Seq("rgd_id", "_lv"), "left_anti")
      .select(col("rgd_id"), col("value"), col("rcv_acc").as("notes"))
      .withColumn("action", lit("insert"))

    outOfScope.unionByName(matched).unionByName(unmatchedStore).unionByName(inserts)
  }
}
