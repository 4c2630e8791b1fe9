package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactGroups: hash-groupBy with min-id keeper") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    val dup = g.filter($"n_copies" === 2).as[(String, Long, Long)].collect()
    assert(dup.length === 1)
    assert(dup.head._3 === 1L) // keeper = min(doc_id)
    assert(g.count() === 3)
  }

  test("minhashPairsExact finds near-dups and exact dups, verified by true Jaccard") {
    val pairs = Dedup.minhashPairsExact(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val keys = pairs.map(p => (p._1, p._2))
    assert(keys.contains((1L, 4L))) // exact dup -> jaccard 1.0
    assert(keys.contains((1L, 2L))) // near dup
    assert(!keys.exists(k => k._1 == 3L || k._2 == 3L)) // unrelated doc
    assert(pairs.find(p => (p._1, p._2) == (1L, 4L)).get._3 === 1.0)
  }

  test("recallReport: LSH pairs are a subset of the exact-Jaccard truth set") {
    val r = Dedup.recallReport(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3)
      .as[(Long, Long, Long, Long)].head()
    val (nDocs, nTrue, nLsh, recall) = r
    assert(nDocs === 4L)
    assert(nTrue === 3L) // (1,2) (1,4) (2,4) — doc 3 is unrelated
    assert(nLsh <= nTrue) // minhashPairsExact verifies exact Jaccard
    assert(nLsh >= 1L) // the exact dup (1,4) ALWAYS collides in every band
    assert(recall === nLsh * 1000L / nTrue)
  }

  test("recallReport: no true pair -> vacuous recall 1000; sampling is deterministic") {
    val disjoint = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val r = Dedup.recallReport(disjoint, "doc_id", "text",
      shingleSize = 2, threshold = 0.3)
      .as[(Long, Long, Long, Long)].head()
    assert(r === ((3L, 0L, 0L, 1000L)))
    // md5-permille sampling: same corpus + knob -> same sampled set
    val wide = spark.range(100).select($"id".as("doc_id"),
      concat(lit("tok"), $"id".cast("string"), lit(" filler words here")).as("text"))
    val a = Dedup.recallReport(wide, "doc_id", "text", samplePermille = 500)
      .as[(Long, Long, Long, Long)].head()
    val b = Dedup.recallReport(wide, "doc_id", "text", samplePermille = 500)
      .as[(Long, Long, Long, Long)].head()
    assert(a === b)
    assert(a._1 > 0L && a._1 < 100L) // a strict, non-empty subsample
  }

  test("jaccard column function") {
    val out = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("a", "b").select(Dedup.jaccard($"a", $"b")).as[Double].head()
    assert(out === 0.5)
  }

  test("simhashMd5: near-dups land close in hamming distance, output is 16 hex chars") {
    val sh = TextStats.simhashMd5(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(sh.values.forall(s => s.length == 16 && s.matches("[0-9a-f]+")))
    assert(sh(1L) === sh(4L)) // identical text -> identical simhash
    def dist(a: String, b: String): Int =
      (BigInt(a, 16) ^ BigInt(b, 16)).bitCount
    assert(dist(sh(1L), sh(2L)) < dist(sh(1L), sh(3L)))
  }

  test("bruteForceTopK: self excluded, k bounded, nearest first") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .select("probe_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(res === Set((1L, 1, 4L), (1L, 2, 2L)))
  }

  test("lshTopK: identical vectors share a bucket; ranking matches brute force within bucket") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Seq(1.0f, 0.0f, 0.5f, 0.2f)),
      (3L, Seq(-1.0f, 0.3f, -0.5f, 0.1f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.lshTopK(emb, emb.filter($"vec_id" === 1), "vec_id", "embedding",
      k = 2, numPlanes = 4, dims = 4)
      .select("probe_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect()
    assert(res.head === ((1L, 1, 2L))) // the identical vector is rank 1
  }

  test("epochSample: E[copies] = permille/1000 exactly, deterministic") {
    val df = (1L to 1000L).toDF("id")
    val sampled = TextStats.epochSample(df, col("id").cast("string"), lit(1700L))
    val n = sampled.count()
    // every row keeps 1 copy; ~70% keep a second (hash-bucket fraction)
    assert(n >= 1550 && n <= 1850, s"got $n")
    assert(sampled.groupBy("id").count().filter(col("count") > 2).count() === 0)
    // weight 0 drops rows entirely; weight 3000 = exactly 3 copies each
    assert(TextStats.epochSample(df, col("id").cast("string"), lit(0L)).count() === 0)
    assert(TextStats.epochSample(df, col("id").cast("string"), lit(3000L)).count() === 3000)
    assert(sampled.count() === n) // deterministic re-run
  }

  test("nearDupAgainstCorpus: new near-dups drop, novel docs survive") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup
      (11L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupAgainstCorpus(newDocs, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(11L))
  }

  test("hashBucket: deterministic, in range, stable across invocations") {
    val df = (1L to 200L).toDF("id")
      .withColumn("b", TextStats.hashBucket(col("id").cast("string"), 100))
    val buckets = df.select("id", "b").as[(Long, Long)].collect().toMap
    assert(buckets.values.forall(b => b >= 0 && b < 100))
    assert(buckets.values.toSet.size > 50) // spreads, not degenerate
    val again = df.select("id", "b").as[(Long, Long)].collect().toMap
    assert(buckets === again)
  }

  test("connectedComponents: pair chains merge into min-id clusters (both paths)") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val viaCluster = Dedup.connectedComponents(pairs, "id_a", "id_b", driverThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver === viaCluster)
    assert(Seq(1L, 2L, 3L, 4L).forall(viaDriver(_) === 1L)) // 4 hops away still finds 1
    assert(viaDriver(11L) === 10L && viaDriver(22L) === 20L && viaDriver(21L) === 20L)
  }

  test("connectedComponents: high-diameter chains converge with flat per-round plans") {
    // regression for the r13 ccdeep finding: the plain-persisted round
    // loop embedded every previous round's plan (referenced twice per
    // round -> 2^rounds plan-walk paths) and OOM'd the driver near 30
    // rounds; the localCheckpoint cut must handle a 40-hop chain
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val reps = Dedup.connectedComponents(
      chain, "id_a", "id_b", maxRounds = 45, driverThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(reps.size === 41)
    assert(reps.values.forall(_ === 0L)) // one component, min-id rep
    graft.ops.CacheScope.releaseAll()
  }

  test("connectedComponents: a round-capped chain throws and leaves nothing cached") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](Dedup.connectedComponents(
      chain, "id_a", "id_b", maxRounds = 2, driverThreshold = 0))
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached)
  }

  test("connectedComponents: fractional ids take the exact changed-rows check, not the truncating sum") {
    // a 4-node chain whose labels differ by < 1.0: every rep truncates
    // to 0 under a decimal(38,0) cast, so the sum-convergence fast path
    // would see an unchanged 0 total after round 1 and exit with 0.3
    // still labeled 0.2 — the integral-only gate must route doubles to
    // the changed-rows fallback
    val fracPairs = Seq((0.1, 0.2), (0.2, 0.3), (0.3, 0.4)).toDF("id_a", "id_b")
    val reps = Dedup.connectedComponents(fracPairs, "id_a", "id_b", driverThreshold = 0)
      .as[(Double, Double)].collect().toMap
    assert(reps === Map(0.1 -> 0.1, 0.2 -> 0.1, 0.3 -> 0.1, 0.4 -> 0.1))
  }

  test("dedupByCluster keeps the min-id representative; unpaired docs pass through") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByCluster(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L)) // reps 1 and 5 survive; 4 untouched
  }

  test("ivfTopK: inverted-file search finds same top-1 as brute force at full probe") {
    val rnd = new scala.util.Random(11)
    val emb = (1 to 200).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 40 === 0)
    val brute = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // stride 25 over ids 1..200 -> 8 centroids; nprobe >= #lists ->
    // exhaustive: identical to brute force
    val full = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 1,
      centroidStride = 25, nprobe = 8)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(full === brute)
    // narrow probe: a valid ANN result (subset semantics, k bounded)
    val narrow = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 3,
      centroidStride = 25, nprobe = 2)
    assert(narrow.groupBy("probe_id").count()
      .as[(Long, Long)].collect().forall(_._2 <= 3))
  }

  test("recallSweep law: recall is monotone non-decreasing in bands; LSH pairs stay a truth subset") {
    // 30 docs with planted near-dup pairs at varying similarity so the
    // banding knob actually moves recall (some pairs only surface at
    // finer bands)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (0 until 30).map { i =>
      val t =
        if (i % 3 == 1) base + s" extra$i mod${i % 5}" // near-dup of base
        else if (i % 3 == 2) base.split(" ").drop(i % 4).mkString(" ") + s" tail$i"
        else s"unique content row $i about topic ${i * 7} nothing shared here at all"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val sweep = Dedup.recallSweep(docs, "doc_id", "text",
      bandsList = Seq(2, 4, 8, 16), threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    graft.ops.CacheScope.releaseAll()
    // truth set is knob-independent
    assert(sweep.map(_._2).distinct.length === 1)
    // candidates and recall both monotone in bands; recall bounded by 1000
    assert(sweep.map(_._3).toSeq === sweep.map(_._3).sorted.toSeq)
    assert(sweep.map(_._4).toSeq === sweep.map(_._4).sorted.toSeq)
    assert(sweep.forall(r => r._4 >= 0 && r._4 <= 1000))
  }

  test("annRecallSweep law: recall monotone in nprobe, 1000 at full probe") {
    val rnd = new scala.util.Random(11)
    val emb = (1 to 200).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" % 40 === 0)
    // stride 25 over ids 1..200 -> 8 lists; nprobe 8 = exhaustive
    val sweep = Similarity.annRecallSweep(
      emb, probes, "vec_id", "embedding", k = 3,
      nprobeList = Seq(1, 2, 4, 8), centroidStride = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    graft.ops.CacheScope.releaseAll()
    assert(sweep.map(_._2).distinct.length === 1) // truth fixed
    assert(sweep.map(_._4).toSeq === sweep.map(_._4).sorted.toSeq) // monotone
    assert(sweep.last._4 === 1000L, s"full probe must recover brute force: $sweep")
  }

  test("cosineNearDupPairs: banded LSH equals brute force on planted scaled near-dups") {
    val rnd = new scala.util.Random(7)
    val base = (1 to 60).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    // scaled copies have cosine exactly 1 -> identical hyperplane signs
    // -> every band matches -> recall 1 by construction, not by luck
    val planted = base.take(10).map { case (i, v) => (i + 1000L, v.map(x => x * 1.1f)) }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val banded = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.95,
      numPlanes = 24, bands = 4, dims = 16).as[(Long, Long)].collect().toSet
    assert((1 to 10).map(i => (i.toLong, i + 1000L)).toSet.subsetOf(banded))
    val e = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val brute = e.select($"vec_id".as("id_a"), $"v".as("va"))
      .join(e.select($"vec_id".as("id_b"), $"v".as("vb")), $"id_a" < $"id_b")
      .filter(Similarity.dot($"va", $"vb") /
        (Similarity.l2Norm($"va") * Similarity.l2Norm($"vb")) >= 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
  }

  test("q38 recall pin: banded pairs on the sf0.01 fixture equal brute force (34 pairs)") {
    // The q38 DuckDB oracle mirrors the banded construction, so it can
    // no longer catch a recall-losing EmbedNearDupPlanes/Bands drift on
    // its own: a parameter change that loses candidate pairs would
    // change both sides identically. This pin holds the declared query
    // to the r04 BRUTE-FORCE ground truth on the committed fixture —
    // 34 pairs, independently recomputed here by exact all-pairs cosine.
    val banded = graft.SparkEntry.queries("q38_embed_neardup")(spark, "/root/testdata/sf0.01")
      .as[(Long, Long)].collect().toSet
    assert(banded.size === 34, s"fixture pair count drifted: ${banded.size}")
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val brute = e.select($"vec_id".as("id_a"), $"v".as("va"))
      .join(e.select($"vec_id".as("id_b"), $"v".as("vb")), $"id_a" < $"id_b")
      .filter(Similarity.dot($"va", $"vb") /
        (Similarity.l2Norm($"va") * Similarity.l2Norm($"vb")) >= 0.42)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute, "banded-LSH recall lost pairs vs exact all-pairs cosine")
  }

  test("q23 recall pin: MinHash-LSH pairs on the sf0.01 fixture equal brute force (25 pairs)") {
    // The q23/q56 DuckDB oracles mirror the bijection construction, so
    // recall-losing drift in the hash family or banding is invisible to
    // Verify (the r6 bijection change altered candidate counts and only
    // the oracle rewrite kept the row green). This pin holds the
    // declared query to BRUTE-FORCE exact-Jaccard ground truth on the
    // committed fixture — 25 pairs at threshold 0.2, independently
    // recomputed by all-pairs set intersection over the same shingles.
    val found = graft.SparkEntry.queries("q23_lsh_pairs")(spark, "/root/testdata/sf0.01")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val brute = sh.select($"doc_id".as("id_a"), $"sh".as("sha"))
      .join(sh.select($"doc_id".as("id_b"), $"sh".as("shb")), $"id_a" < $"id_b")
      .withColumn("ni", size(array_intersect($"sha", $"shb")))
      .filter($"ni".cast("double") / (size($"sha") + size($"shb") - $"ni") >= 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.size === 25, s"fixture ground truth drifted: ${brute.size}")
    assert(found === brute, "MinHash-LSH pairs diverged from brute-force exact Jaccard")
  }

  test("seq-pack shard windows: each language packs across >1 window partition") {
    val docs = (1L to 400L).map { i =>
      (i, if (i % 2 == 0) "en" else "fr", Seq.fill(100)("tok").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "shard").orderBy("doc_id")
    val packed = docs
      .select($"doc_id", $"lang",
        TextStats.hashBucket($"doc_id".cast("string"), 8).as("shard"),
        TextStats.tokenCount($"text").as("n_tok"))
      .withColumn("bin", ((sum($"n_tok").over(w) - $"n_tok") / 2048).cast("long"))
      .groupBy("lang", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"))
    val perLang = packed.groupBy("lang").agg(
      countDistinct($"shard").as("n_shards"),
      sum($"n_docs").as("total_docs"),
      sum($"bin_tokens").as("total_toks"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // the running sum is spread over shards, never one task per language
    assert(perLang("en")._2 > 1 && perLang("fr")._2 > 1)
    // sharding re-buckets but never loses or double-counts docs/tokens
    assert(perLang("en")._3 === 200L && perLang("en")._4 === 200L * 100)
    assert(perLang("fr")._3 === 200L && perLang("fr")._4 === 200L * 100)
  }

  test("planeWeights: deterministic dyadic rationals in [-1, 1)") {
    val w1 = Similarity.planeWeights(3, 8)
    val w2 = Similarity.planeWeights(3, 8)
    assert(w1 === w2)
    assert(w1.flatten.forall(x => x >= -1.0 && x < 1.0))
    // dyadic: x * 32768 is integral
    assert(w1.flatten.forall(x => (x * 32768.0) == math.rint(x * 32768.0)))
  }

  test("text stats: tokenCount / punctCount / stopwordCount / langId / qualityBucket") {
    val df = Seq(
      (1, "the cat sat on the mat."),
      (2, "le chat et la table"),
      (3, "") // empty -> 0 tokens
    ).toDF("id", "text")
    val out = df.select(
      $"id",
      TextStats.tokenCount($"text").as("nt"),
      TextStats.punctCount($"text").as("np"),
      TextStats.langId($"text").as("lang"),
      TextStats.qualityBucket($"text").as("q"))
      .as[(Int, Int, Int, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1)._2 === 6 && out(1)._3 === 1)
    assert(out(2)._4 === "fr")
    assert(out(3)._2 === 0 && out(3)._5 === "empty")
  }

  test("fingerprint: whitespace-insensitive, case-insensitive exact-dup key") {
    val out = Seq("A  b\tC", "a b c", "a b d").toDF("t")
      .select(TextStats.fingerprint($"t")).as[String].collect().toSeq
    assert(out(0) === out(1))
    assert(out(0) !== out(2))
  }

  test("decontaminate: only docs sharing a benchmark n-gram flag, with distinct-gram hit counts") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "i saw the quick brown fox yesterday"),       // shares 'the quick brown fox'
      (2L, "the quick brown fox jumps the quick brown fox jumps"), // shares 2 grams, repeated
      (3L, "completely unrelated text about spark plans today")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 2L)) // doc 2's repeats dedup per doc
  }

  test("repetitionSignals: dup-token per-mille and max bigram count") {
    val df = Seq(
      (1L, "a a a b"),          // 4 tokens, 2 distinct, 'a a' twice
      (2L, "all words differ"), // no repetition
      (3L, "x")                 // single token: no bigram
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionSignals(df, "doc_id", "text")
      .select("doc_id", "n_tokens", "n_distinct", "dup_token_milli", "max_bigram_n")
      .as[(Long, Int, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 4, 2, 500L, 2L)))
    assert(out(2L) === ((2L, 3, 3, 0L, 1L)))
    assert(out(3L) === ((3L, 1, 1, 0L, 0L)))
  }

  test("boilerplateLines: cross-doc repeated lines flag; within-doc repeats alone don't") {
    val df = Seq(
      (1L, "a b c d"), // lines: 'a b', 'c d'
      (2L, "a b x y"), // shares 'a b' with doc 1 -> boilerplate
      (3L, "z z z z")  // 'z z' twice, but only ONE distinct doc -> not boilerplate
    ).toDF("doc_id", "text")
    val out = TextStats.boilerplateLines(df, "doc_id", "text", lineTokens = 2, minDocs = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === ((2L, 1L)))
    assert(out(2L) === ((2L, 1L)))
    assert(out(3L) === ((2L, 0L)))
  }

  test("duplicatedSpanStats: overlapping windows, cross-doc only, short docs report 0/0") {
    val df = Seq(
      (1L, "a b c d e"),   // spans (k=3): 'a b c', 'b c d', 'c d e'
      (2L, "x a b c y"),   // shares 'a b c' with doc 1
      (3L, "p q r p q r"), // within-doc repeat only -> no cross-doc dup
      (4L, "u v")          // shorter than k -> zero spans
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanStats(df, "doc_id", "text", spanTokens = 3, minDocs = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === ((3L, 1L))) // 'a b c' duplicated, at one position
    assert(out(2L) === ((3L, 1L)))
    assert(out(3L) === ((4L, 0L)))
    assert(out(4L) === ((0L, 0L)))
  }

  test("semDedup: within-cluster near-dups drop to the min id; cross-cluster straddlers survive") {
    val emb = Seq(
      (0L, Seq(1.0, 0.0)),   // centroid A (stride 10)
      (10L, Seq(0.0, 1.0)),  // centroid B
      (1L, Seq(0.9, 0.1)),   // cluster A, cos(0,1)≈0.99 -> dropped
      (11L, Seq(0.1, 1.0)),  // cluster B, cos(10,11)≈0.99 -> dropped
      (5L, Seq(0.8, 0.75)),  // cluster A, no near-dup in A -> kept
      (3L, Seq(0.70, 0.714)) // assigns to B; its near-dup (5, cos≈0.999)
                             // sits in A -> kept: the documented
                             // cluster-boundary recall trade
    ).toDF("vec_id", "embedding")
    val keep = Similarity.semDedup(emb, "vec_id", "embedding", 0.9, centroidStride = 10)
      .as[Long].collect().toSet
    assert(keep === Set(0L, 10L, 5L, 3L))
  }

  test("canonicalUrl: tracking params, fragments, authority case, and default ports") {
    val cases = Seq(
      // tracking param first in the query: survivor keeps the '?'
      "HTTPS://News.Example.COM:443/Path?utm_source=x&a=1#frag" ->
        "https://news.example.com/Path?a=1",
      "http://a.example:80/p" -> "http://a.example/p",
      // :443 is not http's default port — must survive
      "http://a.example:443/p" -> "http://a.example:443/p",
      // query left empty by the strip: the dangling '?' goes too
      "https://b.example/?utm_campaign=z" -> "https://b.example/",
      // tracking param mid-query: separators collapse
      "http://c.example/p?a=1&fbclid=abc&b=2" -> "http://c.example/p?a=1&b=2",
      // path case is content, only scheme+authority fold
      "no-url text" -> "no-url text")
    val out = cases.map(_._1).toDF("u")
      .select(TextStats.canonicalUrl($"u")).as[String].collect().toSeq
    assert(out === cases.map(_._2))
  }

  test("law: canonicalUrl is idempotent") {
    // canonical output must be a fixed point — a chain that leaves a
    // dangling separator or a foldable authority would re-canonicalize
    val urls = Seq(
      "HTTPS://News.Example.COM:443/Path?utm_source=x&a=1#frag",
      "http://a.example:80/p?utm_a=1&utm_b=2#x",
      "https://B.EX/?fbclid=1&gclid=2&a=3",
      "no scheme ?utm_x=1#f",
      "http://h/p?a=1")
    val once = urls.toDF("u").select(TextStats.canonicalUrl($"u").as("c"))
    val twice = once.select(TextStats.canonicalUrl($"c"))
    assert(once.as[String].collect().toSeq === twice.as[String].collect().toSeq)
  }

  test("law: a verbatim-duplicated corpus makes every span a dup span") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val doubled = docs.unionByName(
      docs.select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val out = Dedup.duplicatedSpanStats(doubled, "doc_id", "text")
    assert(out.filter($"n_dup_spans" =!= $"n_spans").count() === 0)
    assert(out.filter($"n_spans" > 0).count() > 0)
  }

  test("law: semDedup keeps the globally smallest id; keep list is a subset of input") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val keep = Similarity.semDedup(emb, "vec_id", "embedding", 0.3)
      .as[Long].collect().toSet
    val ids = emb.select($"vec_id").as[Long].collect().toSet
    assert(keep.subsetOf(ids) && keep.contains(ids.min))
    assert(keep.size < ids.size) // the low threshold must actually prune
  }

  test("leakageSafeSplit: no cluster straddles splits; singletons covered; fractions sane") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id")
    val pairs = d.filter($"doc_id" % 4 === 0)
      .select($"doc_id".as("id_a"), ($"doc_id" + 1).as("id_b"))
    val out = Sampling.leakageSafeSplit(d, pairs, "doc_id", "id_a", "id_b")
    // THE invariant: a cluster maps to exactly one split
    assert(out.groupBy("rep").agg(countDistinct($"split").as("n"))
      .filter($"n" > 1).count() === 0)
    // total coverage: every document got a split
    assert(out.count() === d.count())
    // paired docs share their rep's split
    val byId = out.select($"doc_id", $"split").as[(Long, String)].collect().toMap
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      if (byId.contains(b)) assert(byId(a) === byId(b), s"pair ($a,$b) straddles")
    }
    // md5 permille buckets: train dominates, both holdouts non-empty
    val frac = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(frac.getOrElse("train", 0L) > frac.getOrElse("val", 0L))
    assert(frac.getOrElse("val", 0L) > 0 && frac.getOrElse("test", 0L) > 0)
  }

  test("pagerankMilli: hand-computed ranks on a 3-node chain; dedup of repeated edges") {
    // a -> b -> c, with the a->b edge repeated (must dedup):
    //   r1 = (150, 1000, 1000)
    //   r2 = (150, 150 + (850*150) div 1000 = 277, 150 + 850 = 1000)
    val edges = Seq(("a", "b"), ("a", "b"), ("b", "c")).toDF("s", "d")
    val r = LinkGraph.pagerankMilli(edges, "s", "d", iters = 2)
      .as[(String, Long)].collect().toMap
    assert(r === Map("a" -> 150L, "b" -> 277L, "c" -> 1000L))
  }

  test("law: merged per-group CMS sketches == the whole-corpus sketch, exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val whole = TextStats
      .cmsSketchByGroup(docs.withColumn("one", lit(1)), "one", "text", n = 3)
      .select("sk").as[Seq[Long]].head()
    val merged = TextStats.mergeCmsSketches(
      TextStats.cmsSketchByGroup(docs, "source", "text", n = 3), "sk")
      .as[Seq[Long]].head()
    assert(merged === whole)
    assert(merged.sum > 0) // the corpus actually contributed counts
  }

  test("perceptronTrain: first step is exactly X'y; separable data is a fixed point") {
    // two disjoint vocabularies, labels follow the vocabulary
    val train = ((1L to 8L).map(i => (i, s"good_$i nice_$i fine_$i", 1L)) ++
      (11L to 18L).map(i => (i, s"bad_$i awful_$i poor_$i", -1L)))
      .toDF("doc_id", "text", "y")
    val w1 = TextStats.perceptronTrain(train, "doc_id", "text", "y", dim = 256, iters = 1)
      .as[(Long, Long)].collect().toMap
    // independent X'y derivation: every token occurs once, so each hit
    // bucket's weight is the sum of its tokens' labels
    val expected = train.select($"y", explode(split($"text", " ")).as("tok"))
      .select(TextStats.hashBucket($"tok", 256).as("j"), $"y")
      .groupBy("j").agg(sum("y").as("w"))
      .as[(Long, Long)].collect().toMap
    assert(w1 === expected)
    // w1 separates the disjoint vocabularies (modulo the recorded
    // absence of cross-class bucket ties), so step 2 finds no
    // misclassified docs and the weights are a fixed point
    val w2 = TextStats.perceptronTrain(train, "doc_id", "text", "y", dim = 256, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(w2 === w1)
  }

  test("law: auto centroid stride tracks √N — 100× corpus gives ~10× lists") {
    def nlistFor(n: Long): Long = {
      val ids = (0L until n).toDF("vec_id")
      val stride = Similarity.sqrtNStride(ids, "vec_id")
      ids.filter(pmod($"vec_id", lit(stride)) === 0).count()
    }
    val small = nlistFor(100L)
    val big = nlistFor(10000L)
    assert(math.abs(small - 10L) <= 2, s"nlist(100)=$small")
    assert(math.abs(big - 100L) <= 10, s"nlist(10000)=$big")
    // the law itself: lists grow ~√(corpus growth), never linearly
    assert(big < 20 * small, s"nlist grew linearly: $small -> $big")
  }

  test("urlHosts: extracts http/https hosts in order; path and bare text ignored") {
    val out = Seq("see http://a.example/x and https://b.example:8080/y, no ftp://c.example")
      .toDF("t").select(TextStats.urlHosts($"t")).as[Seq[String]].head()
    assert(out === Seq("a.example", "b.example:8080"))
  }

  test("corpusStats approx twin tracks exact within tolerance at sf0.1") {
    // the 100 TB form (GK percentile sketch + HLL distinct) vs the
    // oracle-exact q41 form on the real sf0.1 documents table: counts
    // identical, percentiles within the sketch's rank guarantee
    // (accuracy=10000 -> max rank error 1/10000 of the group; assert a
    // generous 2% VALUE error), HLL distincts within 3*rsd.
    val real = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val exact = TextStats.corpusStats(real, approx = false)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val approx = TextStats.corpusStats(real, approx = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (lang, (n, med, p90, srcs)) =>
      val (an, amed, ap90, asrcs) = approx(lang)
      assert(an === n, s"$lang n_docs")
      assert(math.abs(amed - med) <= math.max(1.0, 0.02 * med), s"$lang med $amed vs $med")
      assert(math.abs(ap90 - p90) <= math.max(1.0, 0.02 * p90), s"$lang p90 $ap90 vs $p90")
      assert(math.abs(asrcs - srcs).toDouble <= math.max(1.0, 0.06 * srcs), s"$lang srcs $asrcs vs $srcs")
    }
  }

  test("bounded_collect_list: sub-cap groups keep all members, overflowed groups are NULL") {
    import graft.functions.BoundedCollectList
    // group 0: 70 members (overflows cap 10); groups 71..80: singletons
    val df = ((1 to 70).map(i => (0L, i.toLong)) ++ (71 to 80).map(i => (i.toLong, i.toLong)))
      .toDF("g", "v").repartition(8) // force map-side partials + serialize round-trips
    val out = df.groupBy("g").agg(BoundedCollectList($"v", 10).as("vs"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(out(0L).isEmpty, "the 70-member group must evaluate to NULL under cap 10")
    (71 to 80).foreach(i => assert(out(i.toLong).contains(Seq(i.toLong))))
    // exactly at the cap: survives with every member
    val atCap = df.filter($"g" === 0L).limit(10).groupBy("g")
      .agg(BoundedCollectList($"v", 10).as("vs"))
      .collect().head.getSeq[Long](1)
    assert(atCap.length === 10)
    // struct elements survive the shuffle serialization
    val st = df.groupBy("g")
      .agg(BoundedCollectList(struct($"v", $"v" * 2), 10).as("vs"))
      .filter($"vs".isNotNull)
    assert(st.count() === 10)
    assert(st.select(explode($"vs").as("s")).select("s.*").count() === 10)
  }

  test("capped LSH dedup frames are LAZY: construction runs zero Spark jobs") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    // the listener bus is FIFO: when a sentinel job submitted AFTER the
    // constructions has been counted, any construction-triggered job
    // would have been counted before it
    def settle(atLeast: Int): Int = {
      val deadline = System.currentTimeMillis() + 30000
      while (counter.get() < atLeast && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      counter.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // sentinels are collect()s of an unshuffled range: exactly ONE
      // job each (a count() under AQE runs one job per shuffle stage,
      // which would skew the arithmetic)
      spark.range(1).collect() // sentinel 1: the listener is live
      val base = settle(1)
      val sigNew = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
      val sigCorp = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
      val frames = Seq(
        Dedup.minhashPairsExact(docs, "doc_id", "text"),
        Dedup.nearDupAgainstSignatures(docs, docs, sigNew, sigCorp, "doc_id", "text"))
      assert(frames.forall(_.columns.nonEmpty)) // constructed, never executed
      spark.range(1).collect() // sentinel 2
      val after = settle(base + 1)
      assert(after === base + 1,
        s"constructing capped dedup frames ran ${after - base - 1} Spark job(s); must run none")
      // and the frames still execute correctly afterwards
      // ((1,4) exact dup; 2 near-dups both -> (1,2) and (2,4))
      assert(frames.head.count() === 3)
      graft.ops.CacheScope.releaseAll()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bucket cap drops ONLY overflowing buckets' pairs; capped==uncapped when nothing overflows") {
    // 12 exact copies land in the same bucket in every band: cap 8
    // overflows every bucket they occupy -> no pairs; the unrelated
    // near-dup pair (21,22) lives in sub-cap buckets and must survive
    val copies = (1 to 12).map(i => (i.toLong, "same text repeated for every copy here"))
    val other = Seq(
      (21L, "an unrelated sentence about distributed systems design"),
      (22L, "an unrelated sentence about distributed systems designs"))
    val d = (copies ++ other).toDF("doc_id", "text")
    val capped = Dedup.minhashPairsExact(d, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3, maxBucket = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((21L, 22L)))
    graft.ops.CacheScope.releaseAll()
    val uncapped = Dedup.minhashPairsExact(d, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3, maxBucket = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 12 * 11 / 2 + 1)
    graft.ops.CacheScope.releaseAll()
    // no overflow anywhere -> capped and uncapped shapes agree exactly
    val cappedSmall = Dedup.minhashPairsExact(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    graft.ops.CacheScope.releaseAll()
    val uncappedSmall = Dedup.minhashPairsExact(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3, maxBucket = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedSmall === uncappedSmall)
    graft.ops.CacheScope.releaseAll()
  }

  test("auto stride guard: sparse/offset id spaces still get a NON-EMPTY quantizer") {
    // 40 odd ids offset by 1e6: residue-0 selection would pick NOTHING
    // for any even stride (the old silent-empty failure); the min-id
    // anchored residue class always contains the anchor itself
    val emb = (0 until 40).map { i =>
      val id = 1000001L + 2 * i
      val v = Seq.tabulate(4)(d => if (d == i % 4) 1.0f else 0.01f * (i % 7))
      (id, v)
    }.toDF("vec_id", "embedding")
    val probes = emb.limit(3)
    val res = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", k = 2, nprobe = 4)
    assert(res.count() > 0, "auto-stride IVF on offset-odd ids must not be empty")
    graft.ops.CacheScope.releaseAll()
    val keep = Similarity.semDedup(emb, "vec_id", "embedding", threshold = 0.999)
    val n = keep.count()
    assert(n > 0 && n <= 40)
    graft.ops.CacheScope.releaseAll()
  }
}
