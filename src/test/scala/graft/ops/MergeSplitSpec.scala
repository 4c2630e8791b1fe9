package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MergeSplitSpec extends SparkSpec {
  import spark.implicits._

  test("chunkBySeparator mirrors AnnotCache.splitAnnots (AnnotCache.java:136-160)") {
    // cut at the LAST '|' with index <= maxLen
    assert(MergeSplit.chunkBySeparator("aa|bb|cc", 5, "|").toSeq === Seq("aa|bb", "cc"))
    // value within budget -> single chunk
    assert(MergeSplit.chunkBySeparator("aa|bb", 5, "|").toSeq === Seq("aa|bb"))
    // no separator in window -> hard cut (reference would spin)
    assert(MergeSplit.chunkBySeparator("abcdefgh", 4, "|").toSeq === Seq("abcd", "efgh"))
    // separator exactly at index maxLen
    assert(MergeSplit.chunkBySeparator("abcde|fg", 5, "|").toSeq === Seq("abcde", "fg"))
    // null passthrough
    assert(MergeSplit.chunkBySeparator(null, 5, "|") === null)
  }

  test("chunk invariants: concat of chunks (re-joined) = original; chunks <= maxLen (sep-cut)") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val parts = (0 until 1 + rnd.nextInt(12)).map(_ => "x" * (1 + rnd.nextInt(6)))
      val v = parts.mkString("|")
      val chunks = MergeSplit.chunkBySeparator(v, 8, "|")
      assert(chunks.mkString("|") === v, s"round-trip of $v")
      chunks.dropRight(1).foreach(c => assert(c.length <= 8, s"chunk '$c' of $v"))
    }
  }

  test("a null key group survives the merge with its merged value") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(
      (Option("k1"), "a|b"),
      (Option("k1"), "b"),
      (Option.empty[String], "c")
    ).toDF("k", "v")
    val out = MergeSplit.mergeThenSplit(df, Seq("k"), "v", col("v"), "[|]", maxLen = 100)
      .as[(Option[String], String)].collect().toSet
    assert(out === Set((Some("k1"), "a|b"), (None, "c")))
  }

  test("trailing separators drop like Java String.split; interior empties survive") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(
      (1, "b;a;"),   // trailing sep: Java split drops the empty token -> "a|b", no leading '|'
      (2, "a;;b"),   // interior empty: Java split KEEPS it -> sorts first -> leading '|'
      (3, ";;"),     // all separators: Java split yields [] -> empty merge
      (4, null.asInstanceOf[String])
    ).toDF("k", "v")
    val out = MergeSplit.mergeThenSplit(df, Seq("k"), "v", col("v"), "[|,;]", maxLen = 100)
      .as[(Int, String)].collect().toMap
    assert(out(1) === "a|b")
    assert(out(2) === "|a|b")
    assert(out(3) === "")
    assert(out(4) === "")
  }

  test("mergeThenSplit: groupBy set-merge then explode oversize (A8-A10 chain)") {
    val df = Seq(
      (1, "b|a"), (1, "c"), (2, "zzzzzz|yyyyyy")
    ).toDF("k", "xref")
    val out = MergeSplit.mergeThenSplit(df, Seq("k"), "xrefs", col("xref"), "[|]", maxLen = 8)
      .as[(Int, String)].collect().toSet
    // k=1 merged "a|b|c" fits; k=2 merged "yyyyyy|zzzzzz" splits at '|'
    assert(out === Set((1, "a|b|c"), (2, "yyyyyy"), (2, "zzzzzz")))
  }
}
