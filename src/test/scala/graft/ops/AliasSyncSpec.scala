package graft.ops

import graft.SparkSpec

class AliasSyncSpec extends SparkSpec {
  import spark.implicits._

  test("CI match, RCV-scope delete, primary-RCV delete, keep, insert (Aliases.qc)") {
    val incoming = Seq(
      (1L, "Usher Syndrome", "RCV1"), // CI-matches stored "usher syndrome"
      (1L, "Fresh Alias", "RCV1")     // new -> insert with notes = primary RCV
    ).toDF("rgd_id", "value", "rcv_acc")
    val current = Seq(
      (1L, "usher syndrome", "RCV1"),     // same value, different case -> match
      (1L, "gone with its rcv", "RCV9"),  // notes outside RCV set -> delete
      (1L, "stale primary", "RCV1"),      // unmatched + primary RCV -> delete
      (1L, "other rcv alias", "RCV2"),    // unmatched, in-set non-primary -> keep
      (1L, "nullnotes", null),            // unmatched, null notes -> keep
      (2L, "unprocessed variant", "RCV5") // rgd 2 not in batch -> excluded
    ).toDF("rgd_id", "value", "notes")
    val rcvSets = Seq((1L, "RCV1"), (1L, "RCV2")).toDF("rgd_id", "rcv")
    val out = AliasSync(incoming, current, rcvSets)
      .select("rgd_id", "value", "action").as[(Long, String, String)].collect().toSet
    assert(out === Set(
      (1L, "usher syndrome", "match"),
      (1L, "gone with its rcv", "delete"),
      (1L, "stale primary", "delete"),
      (1L, "other rcv alias", "keep"),
      (1L, "nullnotes", "keep"),
      (1L, "Fresh Alias", "insert")))
  }

  test("two records matching one variant yield ONE deterministic primary (min RCV)") {
    val incoming = Seq((1L, "al", "RCV2"), (1L, "other", "RCV1"))
      .toDF("rgd_id", "value", "rcv_acc")
    val current = Seq((1L, "stale", "RCV1")).toDF("rgd_id", "value", "notes")
    val rcvSets = Seq((1L, "RCV1"), (1L, "RCV2")).toDF("rgd_id", "rcv")
    val actions = AliasSync(incoming, current, rcvSets)
      .filter(org.apache.spark.sql.functions.col("value") === "stale")
      .select("action").as[String].collect().toSeq
    assert(actions === Seq("delete")) // one row, not delete+keep duplicates
  }

  test("duplicate incoming aliases and RCV rows give the actions of the deduplicated inputs") {
    val current = Seq(
      (1L, "usher syndrome", "RCV1"),
      (1L, "gone with its rcv", "RCV9"),
      (1L, "stale primary", "RCV1"),
      (1L, "other rcv alias", "RCV2"),
      (1L, "nullnotes", null)
    ).toDF("rgd_id", "value", "notes")
    def actions(incoming: Seq[(Long, String, String)], rcvSets: Seq[(Long, String)]) =
      AliasSync(incoming.toDF("rgd_id", "value", "rcv_acc"), current, rcvSets.toDF("rgd_id", "rcv"))
        .select("rgd_id", "value", "notes", "action")
        .as[(Long, String, Option[String], String)].collect().toSeq.sorted
    val once = actions(
      Seq((1L, "Usher Syndrome", "RCV1"), (1L, "Fresh Alias", "RCV1")),
      Seq((1L, "RCV1"), (1L, "RCV2")))
    // the stored match repeated by value and by case; every RCV twice
    val repeated = actions(
      Seq((1L, "Usher Syndrome", "RCV1"), (1L, "Usher Syndrome", "RCV1"),
        (1L, "USHER SYNDROME", "RCV1"), (1L, "Fresh Alias", "RCV1")),
      Seq((1L, "RCV1"), (1L, "RCV2"), (1L, "RCV2"), (1L, "RCV1")))
    assert(once.size === 6)
    assert(repeated === once)
  }
}
