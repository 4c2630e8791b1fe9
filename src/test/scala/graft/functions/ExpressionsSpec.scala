package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // --- TrimUtf8Bytes (X1: Dao.trimToBytes Dao.java:191-209) -----------------

  test("trimUtf8Bytes: within budget unchanged") {
    assert(TrimUtf8Bytes.trim("hello", 10) === "hello")
  }

  test("trimUtf8Bytes: over budget -> shrink to maxBytes-4 + ' ...' suffix") {
    val out = TrimUtf8Bytes.trim("a" * 100, 20)
    assert(out === "a" * 16 + " ...")
    assert(out.getBytes("UTF-8").length <= 20)
  }

  test("trimUtf8Bytes: multibyte-aware (no split inside a codepoint)") {
    val s = "é" * 50 // 2 bytes each in UTF-8
    val out = TrimUtf8Bytes.trim(s, 21)
    assert(out.getBytes("UTF-8").length <= 21)
    assert(out.endsWith(" ..."))
    assert(out.dropRight(4).forall(_ == 'é'))
  }

  test("TrimUtf8Bytes as a Column (codegen path)") {
    val out = Seq("short", "x" * 50).toDF("v")
      .select(TrimUtf8Bytes($"v", 12).as("t")).as[String].collect().toSeq
    assert(out === Seq("short", "x" * 8 + " ..."))
  }

  // --- DotProduct -----------------------------------------------------------

  test("DotProduct: sequential double accumulation") {
    val out = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))
      .toDF("a", "b").select(DotProduct($"a", $"b")).as[Double].head()
    assert(out === 32.0)
  }

  test("DotProduct: casts float arrays, null-safe") {
    val out = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (None, Some(Seq(1.0f))))
      .toDF("a", "b").select(DotProduct($"a", $"b")).as[Option[Double]].collect().toSeq
    assert(out === Seq(Some(11.0), None))
  }

  // --- WordShingles ---------------------------------------------------------

  test("WordShingles: distinct n-grams, first-occurrence order") {
    val out = Seq("a b c d a b c").toDF("t")
      .select(WordShingles(split($"t", " "), 3)).as[Seq[String]].head()
    assert(out === Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("WordShingles: doc shorter than n -> single full join") {
    val out = Seq("x y").toDF("t")
      .select(WordShingles(split($"t", " "), 3)).as[Seq[String]].head()
    assert(out === Seq("x y"))
  }

  test("WordShingles matches the higher-order-function composite it replaced") {
    val words = split(trim($"t"), "\\s+")
    val hof = array_distinct(
      transform(
        sequence(lit(0), greatest(size(words) - 3, lit(0))),
        i => array_join(slice(words, i + 1, lit(3)), " ")))
    val df = Seq("the quick brown fox jumps", "a b", "x", "a a a a a").toDF("t")
    val both = df.select(
      WordShingles(words, 3).as("fast"), hof.as("ref")).as[(Seq[String], Seq[String])]
    both.collect().foreach { case (fast, ref) => assert(fast === ref) }
  }

  test("PlaneSignature matches the per-plane DotProduct composite it replaced") {
    // the exact semantics the fused expression must preserve: char p =
    // '1' iff sequential min-length dot(vec, w_p) >= 0 (ties positive,
    // short vectors truncate)
    val w = graft.scale.Similarity.planeWeights(24, 4)
    val composite = concat(w.map { wp =>
      when(DotProduct($"v", typedlit(wp)) >= 0d, "1").otherwise("0")
    }: _*)
    val df = Seq(
      Seq(1.0, -2.0, 0.5, 3.0),
      Seq(0.0, 0.0, 0.0, 0.0), // all-zero dots: >= 0 -> all '1'
      Seq(-1.0, -1.0),         // shorter than dims: min-length loop
      Seq(7.5)
    ).toDF("v")
    val both = df.select(
      PlaneSignature($"v", w).as("fast"), composite.as("ref")).as[(String, String)]
    both.collect().foreach { case (fast, ref) => assert(fast === ref) }
    assert(both.head()._1.length === 24)
  }

  test("Md5PrefixLong matches the conv(substring(md5)) composite it replaced") {
    // bit-identity with the house 48-bit (and 32-bit) hash idiom is
    // what keeps every oracle untouched: same digest, big-endian
    // prefix, non-negative long
    val df = Seq("", "a", "3:the quick brown fox", "0:\u00e9\u4e2d\u6587",
      "1:" + ("x" * 500)).toDF("s")
    val both = df.select(
      Md5PrefixLong($"s", 6).as("fast48"),
      conv(substring(md5($"s".cast("binary")), 1, 12), 16, 10)
        .cast("long").as("ref48"),
      Md5PrefixLong($"s", 4).as("fast32"),
      conv(substring(md5($"s".cast("binary")), 1, 8), 16, 10)
        .cast("long").as("ref32")).as[(Long, Long, Long, Long)]
    both.collect().foreach { case (f48, r48, f32, r32) =>
      assert(f48 === r48); assert(f32 === r32)
      assert(f48 >= 0L && f32 >= 0L)
    }
    // inside a transform lambda: the interpreted eval path must agree
    // with the codegen path above
    val arr = Seq(Seq("a", "b", "c")).toDF("sha")
    val lam = arr.select(
      transform($"sha", s => Md5PrefixLong(concat(lit("2:"), s), 6)).as("fast"),
      transform($"sha", s =>
        conv(substring(md5(concat(lit("2:"), s).cast("binary")), 1, 12), 16, 10)
          .cast("long")).as("ref")).as[(Seq[Long], Seq[Long])]
    lam.collect().foreach { case (f, r) => assert(f === r) }
  }

  test("MinhashSignature matches the explode/groupBy signature it replaced") {
    import graft.scale.Dedup
    // the reference: the signature as a relational min per hash over the
    // exploded shingles, grouped by id — the formulation the DuckDB
    // oracles reproduce, one md5 per shingle per block of 16 hashes
    def reference(docs: org.apache.spark.sql.DataFrame, numHashes: Int) = {
      val sh0 = docs.select($"doc_id".as("id"), explode(Dedup.shingles($"text", 3)).as("sh"))
      val sh = (0 until (numHashes + 15) / 16).foldLeft(sh0) { (df, g) =>
        df.withColumn(s"hg$g", Md5PrefixLong(concat(lit(s"$g:"), $"sh"), 6))
      }
      val aggs = (0 until numHashes).map { s =>
        min((lit(Dedup.MinhashMultipliers(s % 16)) * col(s"hg${s / 16}")) %
          lit(Dedup.MinhashMod)).as(s"h$s")
      } :+ count(lit(1)).as("n")
      sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
    }
    val local = Seq[(Long, String)](
      1L -> "the quick brown fox jumps over the lazy dog the quick brown fox",
      2L -> "single", // one shingle
      3L -> "\u00fcn\u00efc\u00f6d\u00e9 \u4e2d\u6587 \u6587\u672c \u30c6\u30ad\u30b9\u30c8 donn\u00e9es", // non-ASCII
      4L -> null) // no shingles: no signature row
      .toDF("doc_id", "text")
    // a local relation evaluates the kernel interpreted; repartitioned,
    // it runs inside whole-stage codegen
    for (docs <- Seq(local, local.repartition(2)); k <- Seq(16, 32)) {
      val fast = Dedup.minhashSignatures(docs, "doc_id", "text", 3, k)
      val ref = reference(docs, k)
      assert(fast.schema.map(f => (f.name, f.dataType)) === ref.schema.map(f => (f.name, f.dataType)))
      assert(rowSeqs(fast) === rowSeqs(ref), s"numHashes=$k")
      assert(fast.count() === 3L)
    }
    // the kernel alone: an empty shingle set has no signature
    val empty = Seq(Seq.empty[String], Seq("a b c")).toDF("sh").repartition(1)
      .select(MinhashSignature($"sh", 16).as("sig")).as[Option[Seq[Long]]].collect()
    assert(empty.count(_.isEmpty) === 1 && empty.flatten.map(_.size) === Seq(16))
  }
}
