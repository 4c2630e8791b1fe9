package graft.scale

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for the r9 corpus-diagnostics additions: heavy-hitter n-grams,
  * the C4 policy filter, the vocabulary coverage curve, token-budget
  * shard packing (two-phase prefix sum), and Bloom-prefiltered
  * decontamination.
  */
class CorpusOpsSpec extends SparkSpec {

  import spark.implicits._

  // --- topKNgrams -----------------------------------------------------------

  test("topKNgrams counts true occurrences (not per-doc distinct) + doc freq") {
    val docs = Seq(
      (1L, "a b a b a b"), // "a b a" x2, "b a b" x2 within ONE doc
      (2L, "a b a x y z"),
      (3L, "x y")          // shorter than n: contributes nothing
    ).toDF("doc_id", "text")
    val out = TextStats.topKNgrams(docs, "doc_id", "text", n = 3, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "a b a": 2 occurrences in doc 1 + 1 in doc 2 = 3 occ / 2 docs
    assert(out.head === (("a b a", 3L, 2L)))
    // "b a b": 2 occurrences, 1 doc — beats the five 1/1 grams
    assert(out(1) === (("b a b", 2L, 1L)))
  }

  test("topKNgrams tie-break is deterministic: n_occ desc, n_docs desc, gram asc") {
    val docs = Seq(
      (1L, "p q r"), (2L, "p q r"), // "p q r" 2/2
      (3L, "a b c c b a")           // four distinct grams, 1/1 each
    ).toDF("doc_id", "text")
    val out = TextStats.topKNgrams(docs, "doc_id", "text", n = 3, k = 3)
      .collect().map(_.getString(0))
    // rank 1 = "p q r"; among the 1/1 ties the lexicographically
    // smallest two grams of doc 3 fill the remaining k slots
    assert(out.toSeq === Seq("p q r", "a b c", "b c c"))
  }

  // --- policyFilter ---------------------------------------------------------

  private val goodLine = "one two three four five six."

  test("policyFilter keeps only terminal-punct lines with enough words") {
    val text = Seq(
      goodLine,                    // kept
      "short words.",              // < 5 words: dropped
      "no terminal punctuation here at all", // no punct: dropped
      "does this line have five words?",     // kept ('?')
      "exclaim one two three four five!"     // kept ('!')
    ).mkString("\n")
    val out = TextStats.policyFilter(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text").collect().head
    assert(out.getLong(1) === 5L) // n_lines
    assert(out.getLong(2) === 3L) // n_kept
    assert(out.getLong(3) === 1L) // keep
    assert(out.getString(4) ===
      Seq(goodLine, "does this line have five words?",
        "exclaim one two three four five!").mkString("\n"))
  }

  test("policyFilter drops docs on bad phrase (case-insensitive) or too few kept lines") {
    val base = Seq(goodLine, goodLine, goodLine).mkString("\n")
    val docs = Seq(
      (1L, base),                               // kept: 3 good lines
      (2L, base + "\nsome Lorem IPSUM filler."), // bad phrase, any case
      (3L, base + "\nif (x) { return 1; } done."), // '{'
      (4L, Seq(goodLine, goodLine).mkString("\n")) // only 2 kept lines
    ).toDF("doc_id", "text")
    val out = TextStats.policyFilter(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out === Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // dropped docs carry NULL clean_text: the rejected text never flows on
    val cleans = TextStats.policyFilter(docs, "doc_id", "text")
      .filter(col("keep") === 0).select("clean_text")
      .collect().map(_.isNullAt(0))
    assert(cleans.forall(identity))
  }

  // --- vocabCoverage --------------------------------------------------------

  test("vocabCoverage folds case/punct, ranks, and accumulates to 1000 per-mille") {
    val docs = Seq(
      (1L, "The the, THE! cat"),
      (2L, "cat dog")
    ).toDF("doc_id", "text")
    val out = TextStats.vocabCoverage(docs, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 6 occurrences total: the x3, cat x2, dog x1
    assert(out.toSeq === Seq(
      ("the", 3L, 1L, 3L, 500L),
      ("cat", 2L, 2L, 5L, 833L),
      ("dog", 1L, 3L, 6L, 1000L)))
  }

  test("vocabCoverage rank ties break lexicographically") {
    val docs = Seq((1L, "b a b a")).toDF("doc_id", "text")
    val out = TextStats.vocabCoverage(docs, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(out.toSeq === Seq(("a", 1L), ("b", 2L)))
  }

  // --- ShardPack ------------------------------------------------------------

  private def shardDocs(n: Int) = spark.range(n).select(
    col("id").as("doc_id"),
    (col("id") % 17 * 7 + 3).as("n_tok"))

  test("packByTokenBudget equals the direct single-window prefix sum") {
    val docs = shardDocs(500)
    val got = ShardPack.packByTokenBudget(docs, "doc_id", "n_tok", budget = 100L, numPartitions = 5)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("k"), col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    val want = docs
      .withColumn("k", md5(concat(lit("shard:"), col("doc_id").cast("string"))))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(
        col("doc_id"),
        col("n_tok").cast("long").as("n_tokens"),
        ((col("cum") - col("n_tok")) / 100L).cast("long").as("shard"))
    assert(rows(got) === rows(want))
  }

  test("packByTokenBudget is independent of the partition count") {
    val docs = shardDocs(300)
    val a = ShardPack.packByTokenBudget(docs, "doc_id", "n_tok", budget = 250L, numPartitions = 2)
    val b = ShardPack.packByTokenBudget(docs, "doc_id", "n_tok", budget = 250L, numPartitions = 7)
    assert(rows(a) === rows(b))
  }

  test("packByTokenBudget shard boundaries respect the budget law") {
    val out = ShardPack.packByTokenBudget(shardDocs(400), "doc_id", "n_tok", budget = 300L)
      .groupBy("shard").agg(sum("n_tokens").as("tok")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val maxDoc = 16L * 7 + 3
    val maxShard = out.keys.max
    // every non-terminal shard fills to >= budget minus one doc's
    // overhang, and no shard exceeds budget + one doc's overhang
    out.foreach { case (s, tok) =>
      assert(tok <= 300L + maxDoc, s"shard $s overfull: $tok")
      if (s != maxShard) assert(tok >= 300L - maxDoc, s"shard $s underfull: $tok")
    }
  }

  test("epochOrder: per-epoch permutations, rerun/partition determinism; resumeAfter partitions the epoch") {
    val packed = ShardPack.packByTokenBudget(
      shardDocs(300), "doc_id", "n_tok", budget = 250L)
    def orderOf(e: Long, parts: Int) = ShardPack
      .epochOrder(packed.repartition(parts), "doc_id", e)
      .select("shard", "pos", "doc_id").as[(Long, Long, Long)].collect().sorted.toSeq
    val e1 = orderOf(1L, 3)
    // pure function of (epoch, ids): reruns and partitionings agree
    assert(e1 === orderOf(1L, 11))
    // within each shard, pos is exactly 0..n-1 (a permutation)
    e1.groupBy(_._1).foreach { case (s, rowsOf) =>
      assert(rowsOf.map(_._2).sorted === (0L until rowsOf.size.toLong), s"shard $s")
    }
    // a different epoch permutes the SAME membership differently
    val e2 = orderOf(2L, 3)
    assert(e1.map(r => (r._1, r._3)).toSet === e2.map(r => (r._1, r._3)).toSet,
      "epochs cover the same (shard, doc) set")
    assert(e1 !== e2, "epoch salt must reshuffle")
    // resume: consumed ∪ rest == epoch, disjoint, and rest is exactly
    // the strict-after region
    val ordered = ShardPack.epochOrder(packed, "doc_id", 1L)
    val rest = ShardPack.resumeAfter(ordered, 0L, 2L)
      .select("shard", "pos").as[(Long, Long)].collect().toSet
    val all = ordered.select("shard", "pos").as[(Long, Long)].collect().toSet
    val consumed = all -- rest
    assert(consumed === all.filter { case (s, p) => s === 0L && p <= 2L })
    assert(consumed.size === 3, "shard 0 holds at least the consumed prefix")
    assert(rest.forall { case (s, p) => s > 0L || p > 2L })
  }

  test("epochManifest: epochs × docs schedule; cross-epoch resume partitions the run and rolls over epoch ends") {
    val packed = ShardPack.packByTokenBudget(
      shardDocs(200), "doc_id", "n_tok", budget = 250L)
    val nDocs = 200L
    val manifest = ShardPack.epochManifest(packed, "doc_id", epochs = 3)
    val all = manifest.select("epoch", "shard", "pos", "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(all.size.toLong === 3L * nDocs, "one row per epoch × doc")
    // every epoch covers the same (shard, doc) membership, each its own
    // permutation; each epoch row-for-row equals its epochOrder
    val byEpoch = all.groupBy(_._1)
    assert(byEpoch.keySet === Set(0L, 1L, 2L))
    val memberships = byEpoch.view.mapValues(_.map(r => (r._2, r._4)).toSet).toMap
    assert(memberships(0L) === memberships(1L) && memberships(1L) === memberships(2L))
    val direct1 = ShardPack.epochOrder(packed, "doc_id", 1L)
      .select("epoch", "shard", "pos", "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(byEpoch(1L).toSet === direct1, "manifest epoch 1 == epochOrder(1)")
    assert(byEpoch(0L).map(r => (r._2, r._3, r._4)).sorted !==
      byEpoch(1L).map(r => (r._2, r._3, r._4)).sorted, "epochs reshuffle")
    // consumed ∪ rest == the WHOLE RUN, disjoint, at a mid-run cursor
    val cursor = (1L, 1L, 2L)
    val rest = ShardPack.resumeAfterEpoch(manifest, cursor._1, cursor._2, cursor._3)
      .select("epoch", "shard", "pos").as[(Long, Long, Long)].collect().toSet
    val keys = all.map(r => (r._1, r._2, r._3)).toSet
    val consumed = keys -- rest
    assert(consumed.forall(k =>
      Ordering[(Long, Long, Long)].lteq(k, cursor)), "consumed is the prefix")
    assert(rest.forall(k => Ordering[(Long, Long, Long)].gt(k, cursor)))
    assert((consumed ++ rest) === keys, "consumed ∪ rest covers the run")
    // EPOCH-END ROLLOVER: a cursor at epoch 0's very last (shard, pos)
    // resumes at exactly epochs 1..2, complete
    val lastOf0 = byEpoch(0L).map(r => (r._2, r._3)).max
    val rolled = ShardPack.resumeAfterEpoch(manifest, 0L, lastOf0._1, lastOf0._2)
      .select("epoch", "shard", "pos", "doc_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rolled === (byEpoch(1L) ++ byEpoch(2L)).toSet,
      "epoch-end cursor rolls to the next epoch")
  }

  test("packSequences: full bins, boundary pieces reconstruct docs, shard equivalence") {
    val docs = shardDocs(400)
    val out = ShardPack.packSequences(docs, "doc_id", "n_tok", seqLen = 100L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val totalTokens = docs.agg(sum("n_tok")).as[Long].head()
    // token conservation + every non-terminal bin EXACTLY full
    assert(out.map(_._5).sum === totalTokens)
    val byBin = out.groupBy(_._3).view.mapValues(_.map(_._5).sum).toMap
    val lastBin = byBin.keys.max
    byBin.foreach { case (b, tok) =>
      if (b != lastBin) assert(tok === 100L, s"bin $b not full: $tok")
      else assert(tok <= 100L)
    }
    // per-doc reconstruction: pieces in bin order sum to n_tokens; the
    // first piece is not a continuation, later ones are and start at 0
    out.groupBy(_._1).foreach { case (id, ps) =>
      val ordered = ps.sortBy(_._3)
      assert(ordered.map(_._5).sum === ordered.head._2, s"doc $id")
      assert(!ordered.head._6 && ordered.tail.forall(_._6), s"doc $id continuation flags")
      ordered.tail.foreach(p => assert(p._4 === 0L, s"doc $id continuation must start at 0"))
      assert(ordered.map(_._3) === (ordered.head._3 to ordered.last._3), s"doc $id bins contiguous")
    }
    // partition invariance (pure function of ids)
    val out2 = ShardPack.packSequences(docs.repartition(7), "doc_id", "n_tok", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).sorted.toSeq
    assert(out2 === out.map(r => (r._1, r._3, r._4, r._5)).sorted.toSeq)
    // a doc's first bin is exactly its packByTokenBudget shard at equal budget
    val shards = ShardPack.packByTokenBudget(docs, "doc_id", "n_tok", budget = 100L)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    out.groupBy(_._1).foreach { case (id, ps) =>
      assert(ps.map(_._3).min === shards(id), s"doc $id first bin vs shard")
    }
  }

  test("materializeSequences: conservation, exactly-full bins, global order == md5 doc order") {
    import spark.implicits._
    // synthetic indexed stream: token_id encodes (doc, position) so the
    // laid-out arrays prove membership AND order
    val docs = shardDocs(60)
    val stream = docs.select(col("doc_id"),
      explode(expr("sequence(0L, n_tok - 1)")).as("tok_idx"))
      .withColumn("token_id", col("doc_id") * 1000L + col("tok_idx"))
    val seqLen = 37L
    val out = ShardPack.materializeSequences(stream, "doc_id", seqLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Long](4)))
      .sortBy(_._1)
    val total = docs.agg(sum("n_tok")).as[Long].head()
    // conservation + array/count agreement + exactly-full non-terminal bins
    assert(out.map(_._2).sum === total, "token conservation")
    out.foreach { case (b, n, _, _, ids) =>
      assert(ids.size.toLong === n, s"bin $b count vs array size")
    }
    assert(out.map(_._1).toSeq === (0L until out.length.toLong), "bins dense 0-based")
    out.dropRight(1).foreach { case (b, n, _, _, _) =>
      assert(n === seqLen, s"non-terminal bin $b not full")
    }
    // the concatenation in bin order IS the stream in md5("shard:"||id)
    // doc order — the packWithOffsets layout, token order preserved
    val docOrder = docs.select(col("doc_id"),
        md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("k"))
      .orderBy("k", "doc_id").as[(Long, String)].collect().map(_._1)
    val nTok = docs.as[(Long, Long)].collect().toMap
    val expected = docOrder.flatMap(d => (0L until nTok(d)).map(d * 1000L + _))
    assert(out.flatMap(_._5).toSeq === expected.toSeq, "global token order")
    // per-bin doc metadata vs the expected layout
    val expByBin = expected.zipWithIndex.groupBy(_._2 / seqLen.toInt)
    out.foreach { case (b, _, nDocs, nStarts, _) =>
      val docsIn = expByBin(b.toInt).map(_._1 / 1000L).distinct
      val starts = expByBin(b.toInt).count(_._1 % 1000L === 0L)
      assert(nDocs === docsIn.size.toLong, s"bin $b n_docs")
      assert(nStarts === starts.toLong, s"bin $b n_doc_starts")
    }
    // the layout agrees with packSequences' boundary metadata bin-for-bin
    val pieces = ShardPack.packSequences(docs, "doc_id", "n_tok", seqLen)
      .groupBy("bin").agg(sum("piece_len").as("tok"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(r => r._1 -> r._2).toMap === pieces, "bins == packSequences bins")
  }

  test("encodeIndexed/pieceVocab: positions tile each doc; ids are the lexicographic vocab; BPE-composition conserves tokenCounts") {
    import spark.implicits._
    val docs = Seq(
      (0L, "low lower lowest new newer"),
      (1L, "low low new widest wide"),
      (2L, "newer lower wide wide low"),
      (3L, "")).toDF("doc_id", "text")
    val merges = Bpe.trainMergesFast(docs, "text", 4)
    val stream = Bpe.encodeIndexed(docs, "doc_id", "text", merges)
    val got = stream.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // per doc: tok_idx densely tiles 0..n-1 and the piece sequence is
    // word-by-word applyMergesLocal concatenation
    val texts = docs.as[(Long, String)].collect().toMap
    got.groupBy(_._1).foreach { case (d, rows) =>
      val ordered = rows.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === (0L until rows.length.toLong), s"doc $d dense")
      val want = "[a-z0-9]+".r.findAllIn(texts(d).toLowerCase).toSeq
        .flatMap(w => Bpe.applyMergesLocal(w, merges))
      assert(ordered.map(_._3).toSeq === want, s"doc $d piece order")
    }
    assert(!got.exists(_._1 === 3L), "empty doc emits no tokens")
    // pieceVocab: dense 0-based lexicographic ids over the corpus pieces
    val vocab = Bpe.pieceVocab(docs, "text", merges)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val sortedPieces = got.map(_._3).distinct.sorted
    assert(vocab.sortBy(_._2).map(_._1).toSeq === sortedPieces.toSeq, "lexicographic")
    assert(vocab.map(_._2).sorted.toSeq === (0L until vocab.length.toLong), "dense ids")
    // the q146 composition conserves the tokenizer's own denomination;
    // the fused single-vocab form is row-identical to the composition
    val ids = stream.join(Bpe.pieceVocab(docs, "text", merges), "piece")
      .select("doc_id", "tok_idx", "token_id")
    val fused = Bpe.encodeIndexedIds(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(fused === ids.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
      "encodeIndexedIds == encodeIndexed ∘ pieceVocab")
    val bins = ShardPack.materializeSequences(ids, "doc_id", seqLen = 7L)
    val binTotal = bins.agg(sum("n_tokens")).as[Long].head()
    val tcTotal = Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .agg(sum("n_tokens")).as[Long].head()
    assert(binTotal === tcTotal, "sum over bins == sum of tokenCounts")
  }

  test("packBestFit: docs never split, bins within capacity, exact FFD vs an independent reference, oversize reported") {
    import spark.implicits._
    val docs = shardDocs(300) // n_tok in 3..115: both packable and oversize at 60
    val seqLen = 60L
    val out = ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, shardBudget = 400L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val nTok = docs.as[(Long, Long)].collect().toMap
    // one row per doc, never split; oversize exactly the docs over seqLen
    assert(out.map(_._1).sorted.toSeq === nTok.keys.toSeq.sorted, "one row per doc")
    out.foreach { case (id, n, s, b, ov) =>
      assert(n === nTok(id))
      if (nTok(id) > seqLen) assert(ov && s === -1L && b === -1L, s"doc $id oversize")
      else assert(!ov && s >= 0L && b >= 0L, s"doc $id packed")
    }
    // capacity law: every (shard, bin) holds <= seqLen tokens
    val packed = out.filter(!_._5)
    packed.groupBy(r => (r._3, r._4)).foreach { case (sb, ds) =>
      assert(ds.map(_._2).sum <= seqLen, s"bin $sb over capacity")
    }
    // EXACT FFD law: an independently-coded reference over the trusted
    // shard membership reproduces the layout bin-for-bin
    val shardOf = ShardPack.packByTokenBudget(
        docs.filter(col("n_tok") <= seqLen), "doc_id", "n_tok", budget = 400L)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    val want = shardOf.groupBy(_._2).flatMap { case (s, members) =>
      val sorted = members.keys.toSeq.map(id => (nTok(id), id))
        .sortBy { case (n, id) => (-n, id) }
      val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
      sorted.map { case (n, id) =>
        val i = loads.indexWhere(_ + n <= seqLen)
        val bin = if (i >= 0) { loads(i) += n; i.toLong }
        else { loads += n; loads.size - 1L }
        id -> ((s, bin))
      }
    }
    assert(packed.map(r => r._1 -> ((r._3, r._4))).toMap === want, "FFD layout exact")
    // partition invariance (pure function of ids)
    val out2 = ShardPack.packBestFit(
        docs.repartition(7), "doc_id", "n_tok", seqLen, 400L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(out2 === out.map(r => (r._1, r._3, r._4)).sorted.toSeq)
    // waste stats tie out against the layout
    val stats = ShardPack.packBestFitStats(
      ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, 400L), seqLen)
      .collect().head
    val nBins = packed.map(r => (r._3, r._4)).distinct.length.toLong
    val filled = packed.map(_._2).sum
    assert(stats.getLong(0) === nBins && stats.getLong(1) === packed.length.toLong)
    assert(stats.getLong(2) === out.count(_._5).toLong, "n_oversize")
    assert(stats.getLong(3) === nBins * seqLen && stats.getLong(4) === filled)
    assert(stats.getLong(5) === nBins * seqLen - filled)
    assert(stats.getLong(6) === (nBins * seqLen - filled) * 1000 / (nBins * seqLen))
    // the writer manifest ties to the layout bin-for-bin: member ids in
    // FFD insertion order (n desc, id asc), fill + pad == seqLen budget
    val manifest = ShardPack.bestFitBinManifest(
        ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, 400L), "doc_id", seqLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getSeq[Long](5)))
      .toMap
    assert(manifest.keySet === packed.map(r => (r._3, r._4)).toSet)
    manifest.foreach { case (sb, (nd, fill, pad, ids)) =>
      val members = packed.filter(r => (r._3, r._4) === sb)
      assert(nd === members.length.toLong && fill === members.map(_._2).sum, s"bin $sb")
      assert(pad === seqLen - fill, s"bin $sb pad")
      assert(ids.toSeq === members.map(r => (-r._2, r._1)).sorted.map(_._2).toSeq,
        s"bin $sb FFD insertion order")
    }
  }

  test("materializeBestFit: whole docs contiguous in FFD order, pad suffix, layout-vs-stream drift fails loud") {
    import spark.implicits._
    val docs = shardDocs(80)
    val seqLen = 60L
    val stream = docs.select(col("doc_id"),
      explode(expr("sequence(0L, n_tok - 1)")).as("tok_idx"))
      .withColumn("token_id", col("doc_id") * 1000L + col("tok_idx"))
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, 400L)
    val out = ShardPack.materializeBestFit(stream, layout, "doc_id", seqLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getSeq[Long](5)))
      .toMap
    val nTok = docs.as[(Long, Long)].collect().toMap
    val packable = nTok.filter { case (_, n) => n > 0 && n <= seqLen }
    // fixed width + pad suffix + conservation
    assert(out.values.map(_._2).sum === packable.values.sum, "token conservation")
    out.foreach { case (sb, (_, fill, pad, ids)) =>
      assert(ids.size.toLong === seqLen, s"bin $sb fixed width")
      assert(pad === seqLen - fill, s"bin $sb pad")
      assert(ids.drop(fill.toInt).forall(_ === -1L), s"bin $sb pad suffix")
      assert(ids.take(fill.toInt).forall(_ != -1L), s"bin $sb real prefix")
    }
    // per bin: member docs' tokens CONTIGUOUS in the manifest's FFD order
    val manifest = ShardPack.bestFitBinManifest(layout, "doc_id", seqLen)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](5)).toMap
    out.foreach { case (sb, (nd, fill, _, ids)) =>
      val docsIn = manifest(sb)
      assert(nd === docsIn.size.toLong, s"bin $sb n_docs")
      val want = docsIn.flatMap(d => (0L until nTok(d)).map(d * 1000L + _))
      assert(ids.take(fill.toInt).toSeq === want.toSeq, s"bin $sb layout")
    }
    // DRIFT REFUSAL: a layout denominated in different counts than the
    // stream must fail loud, not overflow bins silently
    // halved counts: FFD packs the big docs two-to-a-bin by the halved
    // sizes, so the real stream doubles some bin past seqLen for sure
    val badLayout = ShardPack.packBestFit(
      docs.withColumn("n_tok", expr("n_tok div 2 + 1")),
      "doc_id", "n_tok", seqLen, 400L)
    val err = intercept[Exception] {
      ShardPack.materializeBestFit(stream, badLayout, "doc_id", seqLen).collect()
    }
    assert(err.getMessage != null)
    // UNDERCOUNT drift (the other direction): a layout denominated in
    // INFLATED counts leaves bins short — docs shift off their doc_off
    // positions under an oversized pad suffix; must fail loud too
    val shortLayout = ShardPack.packBestFit(
      docs.withColumn("n_tok", col("n_tok") * 2L),
      "doc_id", "n_tok", seqLen, 400L)
    val err2 = intercept[Exception] {
      ShardPack.materializeBestFit(stream, shortLayout, "doc_id", seqLen).collect()
    }
    assert(err2.getMessage != null)
  }

  test("truncateOversize: placed rows untouched, cut reported, one full bin per truncated doc, appended shards") {
    val docs = shardDocs(80)
    val seqLen = 60L
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, 400L)
    val before = layout.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val out = ShardPack.truncateOversize(layout, "doc_id", seqLen, 400L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    val nTok = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // conservation: n_tokens + cut_tokens == the original size, per doc
    out.foreach { case (id, n, cut, _, _, ov, tr) =>
      assert(!ov, "no oversize rows remain")
      assert(n + cut === nTok(id), s"doc $id conservation")
      if (tr) assert(n === seqLen, s"doc $id truncated to seqLen")
      else assert(cut === 0L, s"doc $id placed rows report no cut")
    }
    // placed rows pass through with their (shard, bin) untouched
    out.filter(!_._7).foreach { case (id, n, _, sh, bn, _, _) =>
      val (n0, sh0, bn0, ov0) = before(id)
      assert(!ov0 && n === n0 && sh === sh0 && bn === bn0, s"doc $id passthrough")
    }
    // every former-oversize doc: exactly one FULL bin, in appended shards
    val trunc = out.filter(_._7)
    assert(trunc.map(_._1).toSet === before.filter(_._2._4).keySet,
      "queue fully consumed")
    val maxPlaced = out.filter(!_._7).map(_._4).max
    trunc.foreach { case (id, _, _, sh, _, _, _) =>
      assert(sh > maxPlaced, s"doc $id in an appended shard") }
    assert(trunc.map(t => (t._4, t._5)).distinct.length === trunc.length,
      "one truncated doc per bin")
  }

  test("splitOversize: lossless chunks, placed untouched, waste <= per-doc-isolated split") {
    val docs = shardDocs(80)
    val seqLen = 60L
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, 400L)
    val before = layout.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val out = ShardPack.splitOversize(layout, "doc_id", seqLen, 400L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    val nTok = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oversizeIds = nTok.filter(_._2 > seqLen).keys.toSet
    assert(oversizeIds.nonEmpty, "fixture must exercise the queue")
    // LOSSLESS: each oversize doc's chunks are dense 0..k-1, sum to its
    // size, all full except the last
    val byDoc = out.filter(_._7).groupBy(_._1)
    assert(byDoc.keySet === oversizeIds, "queue fully consumed")
    byDoc.foreach { case (id, chs) =>
      val sorted = chs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (0L until sorted.length.toLong),
        s"doc $id chunk indices dense")
      assert(sorted.map(_._3).sum === nTok(id), s"doc $id lossless")
      sorted.init.foreach(c => assert(c._3 === seqLen, s"doc $id full chunks"))
    }
    // placed rows pass through (chunk 0, same shard/bin)
    out.filter(!_._7).foreach { case (id, ch, n, sh, bn, _, _) =>
      val (n0, sh0, bn0, ov0) = before(id)
      assert(!ov0 && ch === 0L && n === n0 && sh === sh0 && bn === bn0,
        s"doc $id passthrough")
    }
    // WASTE LAW: cross-doc FFD over the chunks wastes at most what
    // padding each doc's own remainder would (full chunks waste 0)
    val chunkRows = out.filter(_._7)
    val maxPlaced = out.filter(!_._7).map(_._4).max
    val binFill = chunkRows.groupBy(r => (r._4, r._5)).map { case (sb, rs) =>
      assert(sb._1 > maxPlaced, s"chunk bin $sb in an appended shard")
      rs.map(_._3).sum
    }
    binFill.foreach(f => assert(f <= seqLen, "bins within capacity"))
    val waste = binFill.map(seqLen - _).sum
    val isolated = oversizeIds.toSeq.map { id =>
      val n = nTok(id); ((n + seqLen - 1) / seqLen) * seqLen - n
    }.sum
    assert(waste <= isolated,
      s"split-then-pack waste $waste <= per-doc-isolated $isolated")
  }

  test("curriculumOrder: prefix-monotone band admission, total final epoch, fresh per-epoch in-band permutations") {
    import spark.implicits._
    // 40 docs, difficulty = id so the global rank (and the band split)
    // is hand-checkable: 4 bands of 10, epochs 0..3 admit 1/2/3/4 bands
    val docs = (0L until 40L).map(i => (i, i)).toDF("doc_id", "difficulty")
    val epochs = 4
    val out = ShardPack.curriculumOrder(docs, "doc_id", "difficulty",
      epochs, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // admission: epoch e admits ceil((e+1)·4/4) = e+1 bands
    val byEpoch = out.groupBy(_._1)
    (0L until epochs.toLong).foreach { e =>
      val admitted = byEpoch(e).map(_._3).toSet
      assert(admitted === (0L until (e + 1) * 10L).toSet,
        s"epoch $e admits exactly the easiest ${e + 1} bands")
      // prefix-monotone by construction of the previous assert; pos is
      // dense within each (epoch, bucket)
      byEpoch(e).groupBy(_._2).foreach { case (b, rows) =>
        assert(rows.map(_._4).sorted.toSeq === (0L until rows.length.toLong),
          s"epoch $e bucket $b pos dense")
      }
    }
    // final epoch admits ALL docs
    assert(byEpoch(3L).map(_._3).toSet === (0L until 40L).toSet)
    // bands are difficulty-contiguous: bucket == rank div 10 == id div 10
    out.foreach { case (_, b, id, _) =>
      assert(b === id / 10L, s"doc $id band")
    }
    // fresh permutation per epoch inside a band (bucket 0 is in every
    // epoch; its order must differ somewhere across epochs)
    val orders = (0L until epochs.toLong).map { e =>
      byEpoch(e).filter(_._2 == 0L).sortBy(_._4).map(_._3).toSeq
    }
    assert(orders.distinct.length > 1, "per-epoch in-band permutations differ")
  }

  test("curriculumOrder: null or non-castable id/difficulty fails with a NAMED error, not a task NPE") {
    import spark.implicits._
    val bad = Seq((Some(1L), Some(5L)), (Some(2L), None))
      .toDF("doc_id", "difficulty")
    val err = intercept[Exception] {
      ShardPack.curriculumOrder(bad, "doc_id", "difficulty", 2, 2).collect()
    }
    assert(Option(err.getMessage).getOrElse(err.toString)
      .contains("curriculumOrder"), s"named guard, got: ${err.getMessage}")
  }

  test("splitWriterManifest: q159's laws verbatim on the split-span layout — seq_id bijection, file rule, one row per (epoch, sequence)") {
    import spark.implicits._
    // a split layout's bin rollup: every bin except the last exactly
    // full (the materializeCore law), plus a decoy extra column that
    // must be pruned, not consumed
    val seqLen = 60L
    val fills = (0L until 9L).map(b => (b, seqLen, b % 3 + 1)) :+ ((9L, 23L, 2L))
    val sequences = fills.toDF("bin", "n_tokens", "n_docs")
      .withColumn("token_ids", array(lit(1L)))
    val fileBudget = 150L
    val epochs = 3
    val out = ShardPack.splitWriterManifest(sequences, fileBudget, epochs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val want = fills.map { case (b, f, d) => b -> (f, d) }.toMap
    val n = want.size
    assert(out.length === n * epochs, "one row per (epoch, sequence)")
    (0L until epochs.toLong).foreach { e =>
      val slice = out.filter(_._6 == e)
      assert(slice.map(_._1).toSet === want.keySet,
        s"epoch $e covers every sequence exactly once")
      // seq_id: contiguous 0..N-1 in bin order
      val ordered = slice.sortBy(_._1)
      assert(ordered.map(_._4).toSeq === (0L until n.toLong),
        s"epoch $e seq_id bijection")
      // fill/n_docs match the rollup; file == running-fill-before // budget
      var cum = 0L
      ordered.foreach { r =>
        val (fill, nd) = want(r._1)
        assert(r._2 === fill && r._3 === nd, s"rollup of bin ${r._1}")
        assert(r._5 === cum / fileBudget, s"file rule at seq ${r._4}")
        cum += fill
      }
      // pos dense within (epoch, file)
      slice.groupBy(_._5).foreach { case (f, ss) =>
        assert(ss.map(_._7).sorted.toSeq === (0L until ss.length.toLong),
          s"epoch $e file $f pos dense")
      }
    }
    // epochs are fresh permutations within a multi-sequence file
    val posBySeq = out.groupBy(_._4).values
    assert(posBySeq.exists(rs => rs.map(_._7).distinct.length > 1),
      "per-epoch permutations differ")
  }

  test("writer manifests: a null/non-castable bin or count fails with a NAMED error, not a task NPE (r18 advisory)") {
    import spark.implicits._
    val badSeq = Seq((Some(0L), 5L, 1L), (None, 7L, 1L))
      .toDF("bin", "n_tokens", "n_docs")
    val errS = intercept[Exception] {
      ShardPack.splitWriterManifest(badSeq, 10L, 1).collect()
    }
    assert(Option(errS.getMessage).getOrElse(errS.toString)
      .contains("splitWriterManifest"), s"named guard, got: ${errS.getMessage}")
    val badLay = Seq((1L, Some(5L), 0L, 0L, false), (2L, None, 0L, 1L, false))
      .toDF("doc_id", "n_tokens", "shard", "bin", "oversize")
    val errG = intercept[Exception] {
      ShardPack.globalWriterManifest(badLay, 10L, 1).collect()
    }
    assert(Option(errG.getMessage).getOrElse(errG.toString)
      .contains("globalWriterManifest"), s"named guard, got: ${errG.getMessage}")
  }

  test("checkSplitManifest: clean manifest is all-zero; every corruption class fires its own counter") {
    import spark.implicits._
    val seqLen = 60L
    val fills = (0L until 9L).map(b => (b, seqLen, b % 3 + 1)) :+ ((9L, 23L, 2L))
    val sequences = fills.toDF("bin", "n_tokens", "n_docs")
    val fileBudget = 150L
    val manifest = ShardPack.splitWriterManifest(sequences, fileBudget, epochs = 2)
    def checks(m: org.apache.spark.sql.DataFrame) =
      ShardPack.checkSplitManifest(m, sequences, fileBudget)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val clean = checks(manifest)
    assert(clean("sequences_export") === 10L)
    assert(clean("manifest_rows") === 20L && clean("epochs_seen") === 2L)
    Seq("epoch_gaps", "duplicate_manifest_keys", "missing_sequences",
      "layout_mismatches", "pos_violations", "pos_mismatches").foreach(c =>
      assert(clean(c) === 0L, s"clean manifest must report 0 $c"))
    // (a) a duplicated (epoch, seq_id) row
    val dup = checks(manifest.unionByName(manifest.limit(1)))
    assert(dup("duplicate_manifest_keys") === 1L)
    // (b) a dropped row: missing from its epoch
    val dropped = checks(manifest.filter(
      !(col("epoch") === 1L && col("seq_id") === 3L)))
    assert(dropped("missing_sequences") === 1L &&
      dropped("manifest_rows") === 19L)
    // (c) a flipped file assignment
    val flipped = checks(manifest.withColumn("file",
      when(col("epoch") === 0L && col("seq_id") === 0L, col("file") + 7L)
        .otherwise(col("file"))))
    assert(flipped("layout_mismatches") === 1L)
    // (c') a NULLED layout cell is a mismatch, not a silently dropped
    // filter row (null-safe compare)
    val nulled = checks(manifest.withColumn("fill",
      when(col("epoch") === 0L && col("seq_id") === 1L,
        lit(null).cast("long")).otherwise(col("fill"))))
    assert(nulled("layout_mismatches") === 1L)
    // (d) overwritten pos inside one (epoch, file): duplicate pos + gap
    val swapped = checks(manifest.withColumn("pos",
      when(col("epoch") === 0L && col("file") === 0L, lit(0L))
        .otherwise(col("pos"))))
    assert(swapped("pos_violations") >= 1L)
    // (d') a DENSE permutation drift — rotate pos within (epoch 0,
    // file 0): density holds (pos_violations 0) but the order is one
    // the generator never emitted — only the exact re-derivation sees it
    val f0 = manifest.filter(col("epoch") === 0L && col("file") === 0L).count()
    assert(f0 >= 2L, "fixture needs a multi-sequence file")
    val drifted = checks(manifest.withColumn("pos",
      when(col("epoch") === 0L && col("file") === 0L,
        (col("pos") + 1L) % lit(f0)).otherwise(col("pos"))))
    assert(drifted("pos_violations") === 0L && drifted("pos_mismatches") >= 2L,
      "dense drift passes density but fails the exact permutation")
    // (d'') a RELABELED epoch keeps every other counter clean but its
    // pos values came from another label's permutation
    val relabeled = checks(manifest.withColumn("epoch",
      when(col("epoch") === 1L, lit(5L)).otherwise(col("epoch"))))
    assert(relabeled("duplicate_manifest_keys") === 0L &&
      relabeled("missing_sequences") === 0L &&
      relabeled("layout_mismatches") === 0L)
    assert(relabeled("pos_mismatches") >= 1L,
      "a relabeled epoch must fail its own label's permutation")
    assert(relabeled("epoch_gaps") === 4L,
      "the relabel leaves epochs 1..4 as named gaps below max(epoch)=5")
    // (f) a whole LOST epoch: an interior loss fires the named
    // epoch_gaps counter; a TAIL loss is invisible to it by design
    // (the check cannot know the intended epoch count) and shows only
    // through manifest_rows != sequences · epochs
    val lostInterior = checks(manifest.filter(col("epoch") =!= 0L))
    assert(lostInterior("epoch_gaps") === 1L &&
      lostInterior("epochs_seen") === 1L)
    val lostTail = checks(manifest.filter(col("epoch") =!= 1L))
    assert(lostTail("epoch_gaps") === 0L &&
      lostTail("manifest_rows") === 10L,
      "tail loss reads clean on gaps — the size relation is the signal")
    // (e) a FOREIGN seq_id is a mismatch and must not mask a missing one
    val foreign = checks(manifest.withColumn("seq_id",
      when(col("epoch") === 1L && col("seq_id") === 4L, lit(99L))
        .otherwise(col("seq_id"))))
    assert(foreign("layout_mismatches") === 1L &&
      foreign("missing_sequences") === 1L)
    // (e') an epoch whose rows are ALL foreign still reports its full
    // complement missing (the seen-epoch frame drives the counter)
    val allForeign = checks(manifest.withColumn("seq_id",
      when(col("epoch") === 1L, col("seq_id") + 1000L)
        .otherwise(col("seq_id"))))
    assert(allForeign("missing_sequences") === 10L &&
      allForeign("layout_mismatches") === 10L)
  }

  test("resumeAfterCurriculum: consumed ∪ resume == the schedule, disjoint; cursor rolls across epochs and bands") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, i)).toDF("doc_id", "difficulty")
    val all = ShardPack.curriculumOrder(docs, "doc_id", "difficulty", 3, 4)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(4))
    val allKeys = all.collect().map(key).toSet
    // a mid-band cursor, a band-final cursor (rolls to the next band),
    // and an epoch-final cursor (rolls to the next epoch)
    for ((e, b, p) <- Seq((0L, 0L, 3L), (1L, 0L, 9L), (1L, 1L, 9L))) {
      val resume = ShardPack.resumeAfterCurriculum(all, e, b, p)
        .collect().map(key).toSet
      val consumed = allKeys.filter { case (re, rb, rp) =>
        re < e || (re == e && (rb < b || (rb == b && rp <= p)))
      }
      assert(consumed.intersect(resume).isEmpty, s"disjoint at ($e,$b,$p)")
      assert(consumed ++ resume === allKeys, s"complete at ($e,$b,$p)")
    }
  }

  test("checkBestFitManifest: clean is all-zero; pos density is checked within (epoch, SHARD)") {
    val docs = shardDocs(80)
    val fileBudget = 150L
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", 60L, 400L)
    val manifest = ShardPack.globalWriterManifest(layout, fileBudget, epochs = 2)
    def checks(m: org.apache.spark.sql.DataFrame) =
      ShardPack.checkBestFitManifest(m, layout, fileBudget)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val clean = checks(manifest)
    assert(clean("manifest_rows") === clean("sequences_export") * 2)
    Seq("epoch_gaps", "duplicate_manifest_keys", "missing_sequences",
      "layout_mismatches", "pos_violations", "pos_mismatches").foreach(c =>
      assert(clean(c) === 0L, s"clean manifest must report 0 $c"))
    // corrupt pos inside the largest SHARD (the best-fit permutation
    // unit): all-zero pos there duplicates and gaps. Pick a shard with
    // >= 2 sequences so the overwrite actually collides.
    import org.apache.spark.sql.functions._
    val big = manifest.filter(col("epoch") === 0L)
      .groupBy(col("shard")).count()
      .orderBy(desc("count"), col("shard")).head()
    val bigShard = big.getLong(0)
    assert(big.getLong(1) >= 2L, "fixture must give a multi-sequence shard")
    val swapped = checks(manifest.withColumn("pos",
      when(col("epoch") === 0L && col("shard") === bigShard, lit(0L))
        .otherwise(col("pos"))))
    assert(swapped("pos_violations") >= 1L)
    // a flipped shard id is a layout mismatch
    val flipped = checks(manifest.withColumn("shard",
      when(col("epoch") === 1L && col("seq_id") === 0L, col("shard") + 5L)
        .otherwise(col("shard"))))
    assert(flipped("layout_mismatches") === 1L)
  }

  test("quarantine manifests: clean is EMPTY; counters == per-label counts (law); corrections are the generator's own rows") {
    val docs = shardDocs(80)
    val fileBudget = 150L
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", 60L, 400L)
    val manifest = ShardPack.globalWriterManifest(layout, fileBudget, epochs = 2)
    assert(ShardPack.quarantineBestFitManifest(manifest, layout, fileBudget)
      .isEmpty, "a clean manifest quarantines nothing")
    // corruption battery — every class must fire
    val corrupted = manifest
      .filter(!(col("epoch") === 1L && col("seq_id") % 5L === 0L))
      .withColumn("fill",
        when(col("epoch") === 0L && col("seq_id") % 7L === 2L, col("fill") + 5L)
          .otherwise(col("fill")))
      .withColumn("pos",
        when(col("epoch") === 1L && col("seq_id") % 9L === 3L, col("pos") + 100L)
          .otherwise(col("pos")))
      .unionByName(manifest.filter(
        col("epoch") === 0L && col("seq_id") % 6L === 1L))
      .withColumn("epoch", when(col("epoch") === 1L, 3L).otherwise(col("epoch")))
    val q = ShardPack.quarantineBestFitManifest(corrupted, layout, fileBudget)
      .collect()
    val byLabel = q.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val checks = ShardPack.checkBestFitManifest(corrupted, layout, fileBudget)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // THE LAW: every violation counter equals the quarantine frame's
    // per-label count (zero-filled)
    for ((check, label) <- Seq(
      "epoch_gaps" -> "epoch_gap",
      "duplicate_manifest_keys" -> "duplicate_key",
      "missing_sequences" -> "missing",
      "layout_mismatches" -> "layout_mismatch",
      "pos_violations" -> "pos_violation",
      "pos_mismatches" -> "pos_mismatch"))
      assert(checks(check) === byLabel.getOrElse(label, 0L),
        s"$check == count of '$label' rows")
    Seq("epoch_gap", "duplicate_key", "missing", "layout_mismatch",
      "pos_violation", "pos_mismatch").foreach(l =>
      assert(byLabel.getOrElse(l, 0L) > 0L, s"the battery must fire $l"))
    // corrections: a missing row is the generator's COMPLETE row for
    // its (epoch, seq_id) — a loader can union it back in. The clean
    // manifest (epoch 3 reads the relabeled epoch-3 permutation, so
    // compare against a 4-epoch generator run restricted to seen epochs)
    val clean4 = ShardPack.globalWriterManifest(layout, fileBudget, epochs = 4)
      .collect().map { r =>
        (r.getLong(6), r.getLong(4)) ->
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(5), r.getLong(7))
      }.toMap
    val missing = q.filter(_.getString(0) == "missing")
    assert(missing.nonEmpty)
    missing.foreach { r =>
      val key = (r.getLong(1), r.getLong(2))
      val (sh, bn, fl, nd, fi, po) = clean4(key)
      assert(r.getLong(9) === sh && r.getLong(10) === bn &&
        r.getLong(11) === fl && r.getLong(12) === nd &&
        r.getLong(13) === fi && r.getLong(14) === po,
        s"missing correction equals the generator row at $key")
      assert(r.isNullAt(3) && r.isNullAt(8),
        "manifest layout/pos cells are null on a missing row")
    }
    // a pos_mismatch row carries the exact generator e_pos correction
    val pmm = q.filter(_.getString(0) == "pos_mismatch")
    assert(pmm.nonEmpty)
    pmm.foreach { r =>
      val key = (r.getLong(1), r.getLong(2))
      assert(r.getLong(14) === clean4(key)._6, s"e_pos is the generator pos at $key")
      assert(r.getLong(8) !== r.getLong(14), "the row actually drifted")
    }
    // the split twin: clean is empty too
    import spark.implicits._
    val seqs = ((0L until 9L).map(b => (b, 60L, b % 3 + 1)) :+ ((9L, 23L, 2L)))
      .toDF("bin", "n_tokens", "n_docs")
    val splitMan = ShardPack.splitWriterManifest(seqs, 150L, epochs = 2)
    assert(ShardPack.quarantineSplitManifest(splitMan, seqs, 150L).isEmpty,
      "clean split manifest quarantines nothing")
    // and a duplicated split row is labeled with the keep-rule applied
    val dup = ShardPack.quarantineSplitManifest(
      splitMan.unionByName(splitMan.limit(1)), seqs, 150L).collect()
    assert(dup.count(_.getString(0) == "duplicate_key") === 1L,
      "one extra copy → one duplicate_key row")
  }

  test("repairManifest: repair(clean) == clean, quarantine(repair(m)) is EMPTY, and repair == the generator for the epochs named (both layouts)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val docs = shardDocs(80)
    val fileBudget = 150L
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", 60L, 400L)
    val manifest = ShardPack.globalWriterManifest(layout, fileBudget, epochs = 3)
    // repair(clean) == clean: an empty quarantine changes nothing
    val repairedClean = ShardPack.repairBestFitManifest(manifest,
      ShardPack.quarantineBestFitManifest(manifest, layout, fileBudget))
    assert(rows(repairedClean) === rows(manifest), "repair(clean) == clean")
    // the full battery: a whole LOST epoch (gap refill), dropped rows
    // (missing), an inflated fill (layout_mismatch), a shifted AND a
    // NULLED pos (pos_mismatch — null-safe), duplicated rows, and a
    // FOREIGN seq_id (no correction exists — must drop)
    val corrupted = manifest
      .filter(col("epoch") =!= 1L)
      .filter(!(col("epoch") === 2L && col("seq_id") % 5L === 0L))
      .withColumn("fill",
        when(col("epoch") === 0L && col("seq_id") % 7L === 2L, col("fill") + 5L)
          .otherwise(col("fill")))
      .withColumn("pos",
        when(col("epoch") === 2L && col("seq_id") % 9L === 3L, col("pos") + 100L)
          .when(col("epoch") === 0L && col("seq_id") % 11L === 4L,
            lit(null).cast("long"))
          .otherwise(col("pos")))
      .unionByName(manifest.filter(
        col("epoch") === 0L && col("seq_id") % 6L === 1L))
      .unionByName(manifest.filter(
        col("epoch") === 0L && col("seq_id") === 0L)
        .withColumn("seq_id", lit(99999L)))
    val quarantine = ShardPack.quarantineBestFitManifest(
      corrupted, layout, fileBudget)
    val repaired = ShardPack.repairBestFitManifest(corrupted, quarantine)
    // extensional law: the repaired manifest IS the generator's run for
    // the epochs the corrupted manifest names (0, 2 seen + gap 1)
    assert(rows(repaired) === rows(manifest),
      "repair == the generator manifest for epochs 0..2")
    // idempotence: re-quarantining the repaired manifest finds nothing
    assert(ShardPack.quarantineBestFitManifest(repaired, layout, fileBudget)
      .isEmpty, "quarantine(repair(m)) is empty")
    // the split twin: same laws over a splitWriterManifest
    val seqs = ((0L until 9L).map(b => (b, 60L, b % 3 + 1)) :+ ((9L, 23L, 2L)))
      .toDF("bin", "n_tokens", "n_docs")
    val splitMan = ShardPack.splitWriterManifest(seqs, 150L, epochs = 2)
    val splitBad = splitMan
      .filter(!(col("epoch") === 1L && col("seq_id") === 3L))
      .withColumn("fill",
        when(col("epoch") === 0L && col("seq_id") === 1L,
          lit(null).cast("long")).otherwise(col("fill")))
      .unionByName(splitMan.filter(col("epoch") === 0L && col("seq_id") === 5L))
    val splitRepaired = ShardPack.repairSplitManifest(splitBad,
      ShardPack.quarantineSplitManifest(splitBad, seqs, 150L))
    assert(rows(splitRepaired) === rows(splitMan),
      "split repair == the generator manifest")
    assert(ShardPack.quarantineSplitManifest(splitRepaired, seqs, 150L).isEmpty,
      "split quarantine(repair(m)) is empty")
    // NULL KEY cells (the r20 self-review finding): a nulled epoch
    // provokes the quarantine's loud phantom complement ("epoch null"
    // missing rows) and a nulled seq_id row matches no correction —
    // repair must drop both rows, ignore the phantom block, and still
    // satisfy every law (the dropped rows' originals come back as
    // missing in their true epochs)
    val nullKeys = splitMan
      .withColumn("epoch",
        when(col("epoch") === 0L && col("seq_id") === 2L,
          lit(null).cast("long")).otherwise(col("epoch")))
      .withColumn("seq_id",
        when(col("epoch") === 1L && col("seq_id") === 7L,
          lit(null).cast("long")).otherwise(col("seq_id")))
    val nullQuar = ShardPack.quarantineSplitManifest(nullKeys, seqs, 150L)
    assert(nullQuar.filter(col("violation") === "missing" &&
      col("epoch").isNull).count() > 0L,
      "the null-epoch label surfaces loudly in the quarantine")
    val nullRepaired = ShardPack.repairSplitManifest(nullKeys, nullQuar)
    assert(rows(nullRepaired) === rows(splitMan),
      "null-key rows drop; their true identities come back as missing")
    assert(ShardPack.quarantineSplitManifest(nullRepaired, seqs, 150L).isEmpty,
      "null-key quarantine(repair(m)) is empty")
  }

  test("curriculum fsck family: clean quarantines nothing, counters == labels (law), each battery class fires, repair == the generator (q190/q191)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val docs = (0L until 40L).map(i => (i, i % 7)).toDF("doc_id", "difficulty")
    val epochs = 3
    val buckets = 4
    val schedule = ShardPack.curriculumOrder(docs, "doc_id", "difficulty",
      epochs, buckets)
    // clean: empty quarantine, all-zero counters, repair fixed point
    assert(ShardPack.quarantineCurriculum(schedule, docs, "doc_id",
      "difficulty", epochs, buckets).isEmpty,
      "a clean schedule quarantines nothing")
    val cleanChecks = ShardPack.checkCurriculum(schedule, docs, "doc_id",
      "difficulty", epochs, buckets)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cleanChecks("schedule_rows") === cleanChecks("rows_expected") &&
      cleanChecks("epochs_expected") === 3L)
    Seq("duplicate_schedule_keys", "missing_rows", "layout_mismatches",
      "pos_violations", "pos_mismatches").foreach(c =>
      assert(cleanChecks(c) === 0L, s"clean schedule must report 0 $c"))
    assert(rows(ShardPack.repairCurriculum(schedule,
      ShardPack.quarantineCurriculum(schedule, docs, "doc_id", "difficulty",
        epochs, buckets), "doc_id", "difficulty")) === rows(schedule),
      "repair(clean) == clean")
    // battery: a WHOLE lost epoch (comes back as missing rows — the
    // caller-known epoch domain has no gap blind spot), dropped rows,
    // a corrupted bucket, a nulled difficulty, shifted pos, duplicates,
    // a FOREIGN doc id, a foreign EPOCH label, and a null epoch
    val corrupted = schedule
      .filter(col("epoch") =!= 1L)
      .filter(!(col("epoch") === 2L && col("doc_id") % 11L === 0L))
      .withColumn("bucket",
        when(col("epoch") === 0L && col("doc_id") % 17L === 2L,
          col("bucket") + 3L).otherwise(col("bucket")))
      .withColumn("difficulty",
        when(col("epoch") === 2L && col("doc_id") % 13L === 5L,
          lit(null).cast("long")).otherwise(col("difficulty")))
      .withColumn("pos",
        when(col("epoch") === 2L && col("doc_id") % 19L === 3L,
          col("pos") + 1000L).otherwise(col("pos")))
      .unionByName(schedule.filter(
        col("epoch") === 0L && col("doc_id") % 13L === 1L))
      .unionByName(schedule.filter(
        col("epoch") === 0L && col("doc_id") === 2L)
        .withColumn("doc_id", col("doc_id") + 10000000L))
      .unionByName(schedule.filter(
        col("epoch") === 2L && col("doc_id") === 3L)
        .withColumn("epoch", lit(9L)))
      .withColumn("epoch",
        when(col("epoch") === 0L && col("doc_id") === 5L,
          lit(null).cast("long")).otherwise(col("epoch")))
    val quarantine = ShardPack.quarantineCurriculum(corrupted, docs,
      "doc_id", "difficulty", epochs, buckets)
    val byLabel = quarantine.collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    Seq("duplicate_key", "missing", "layout_mismatch", "pos_violation",
      "pos_mismatch").foreach(l =>
      assert(byLabel.getOrElse(l, 0L) > 0L, s"the battery must fire $l"))
    // counters == labels, by construction AND re-asserted
    val checks = ShardPack.checkCurriculum(corrupted, docs, "doc_id",
      "difficulty", epochs, buckets)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((check, label) <- Seq(
      "duplicate_schedule_keys" -> "duplicate_key",
      "missing_rows" -> "missing",
      "layout_mismatches" -> "layout_mismatch",
      "pos_violations" -> "pos_violation",
      "pos_mismatches" -> "pos_mismatch"))
      assert(checks(check) === byLabel.getOrElse(label, 0L),
        s"$check == count of '$label' rows")
    // the whole lost epoch 1 comes back through missing alone
    assert(quarantine.filter(col("violation") === "missing" &&
      col("epoch") === 1L).count() > 0L,
      "a lost TAIL-adjacent epoch is visible by name (no gap blind spot)")
    // repair: extensional + idempotence laws
    val repaired = ShardPack.repairCurriculum(corrupted, quarantine,
      "doc_id", "difficulty")
    assert(rows(repaired) === rows(schedule),
      "repair == the generator schedule")
    assert(ShardPack.quarantineCurriculum(repaired, docs, "doc_id",
      "difficulty", epochs, buckets).isEmpty,
      "quarantine(repair(s)) is empty")
  }

  test("epoch_gap guards the negative-max sequence pitfall: an all-negative corrupt epoch domain emits NO gap rows (r19 advisory)") {
    import spark.implicits._
    val seqs = ((0L until 4L).map(b => (b, 60L, 2L)) :+ ((4L, 23L, 1L)))
      .toDF("bin", "n_tokens", "n_docs")
    val man = ShardPack.splitWriterManifest(seqs, 150L, epochs = 1)
      // Spark's sequence(0, mx) counts DOWN when mx < 0 — unguarded,
      // this relabel would emit a descending 0..-5 "gap" ladder
      .withColumn("epoch", col("epoch") - 5L)
    val q = ShardPack.quarantineSplitManifest(man, seqs, 150L).collect()
    assert(!q.exists(_.getString(0) == "epoch_gap"),
      "negative max(epoch) must yield no epoch_gap rows")
    val checks = ShardPack.checkSplitManifest(man, seqs, 150L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(checks("epoch_gaps") === 0L)
  }

  test("sequenceBoundaries: cu_seqlens laws — [0, …, n_tokens], strictly increasing, n_docs+1 entries, equals packSequences' local_starts") {
    import spark.implicits._
    // a real multi-doc packing: docs of varied lengths into 8-token
    // bins, the doc id riding a channel through the materializer
    // doc 2 spans 18 tokens: any 18-token contiguous run fully encloses
    // at least one 8-aligned bin, whatever the md5 order puts before it
    // — the single-segment edge is guaranteed, not md5-lucky
    val docs = Seq((1L, "a b c"),
      (2L, "d e f g h i j k l m aa bb cc dd ee ff gg hh"), (3L, "n"),
      (4L, "o p q r s"))
      .toDF("doc_id", "text")
    val stream = docs
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("tok_idx", "w")))
      .withColumn("token_id", abs(xxhash64(col("w"))) % 1000L)
      .withColumn("doc", col("doc_id"))
    val packed = ShardPack.materializeSequencesWithChannels(
      stream, "doc_id", Seq("doc"), seqLen = 8L)
    val out = ShardPack.sequenceBoundaries(packed, "doc")
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cu = r.getSeq[Long](r.fieldIndex("cu_seqlens"))
      val nTok = r.getAs[Long]("n_tokens")
      val nDocs = r.getAs[Long]("n_docs")
      val nSeg = r.getAs[Long]("n_segments")
      assert(cu.head === 0L && cu.last === nTok,
        s"cu_seqlens spans [0, n_tokens]: $cu")
      assert(cu === cu.sorted && cu.distinct === cu,
        s"strictly increasing: $cu")
      // each doc occupies ONE contiguous run inside a bin (bins are
      // consecutive stream positions; a doc is one contiguous span) —
      // so segments == docs
      assert(cu.length === nDocs + 1 && nSeg === nDocs,
        s"n_docs+1 entries: $cu vs $nDocs")
      // the boundaries are exactly where the doc channel changes
      val ch = r.getSeq[Long](r.fieldIndex("doc"))
      val starts = ch.indices.filter(i => i == 0 || ch(i) != ch(i - 1))
        .map(_.toLong)
      assert(cu.init === starts, s"boundaries == channel change points")
    }
    // cross-operator law: interior boundaries == packSequences'
    // local_start metadata for the same corpus and seqLen
    val meta = ShardPack.packSequences(
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")),
      "doc_id", "n", seqLen = 8L)
      .collect()
      .groupBy(_.getAs[Long]("bin"))
      .view.mapValues(_.map(_.getAs[Long]("local_start")).sorted.toSeq)
      .toMap
    rows.foreach { r =>
      val cu = r.getSeq[Long](r.fieldIndex("cu_seqlens"))
      assert(cu.init === meta(r.getAs[Long]("bin")),
        s"cu_seqlens interior == packSequences local_starts at bin ${r.getAs[Long]("bin")}")
    }
    // the single-segment edge: a bin holding exactly one doc's span
    // (doc 2 fills a full bin alone) yields [0, n_tokens]
    assert(rows.exists(r =>
      r.getSeq[Long](r.fieldIndex("cu_seqlens")).length == 2),
      "fixture must exercise the single-segment bin edge")
  }

  test("bestFitSegments: cu_seqlens spans [0, fill], segments == docs, interior == the FFD insertion-order prefix sums; oversize excluded") {
    val docs = shardDocs(80)
    val seqLen = 60L
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, 400L)
    val out = ShardPack.bestFitSegments(layout, "doc_id", seqLen).collect()
    assert(out.nonEmpty)
    // the member lens in FFD insertion order, from the layout itself
    val lensByBin = layout.filter(!col("oversize")).collect()
      .groupBy(r => (r.getLong(2), r.getLong(3)))
      .view.mapValues(_.sortBy(r => (-r.getLong(1), r.getLong(0)))
        .map(_.getLong(1)).toSeq)
      .toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("shard"), r.getAs[Long]("bin"))
      val cu = r.getSeq[Long](r.fieldIndex("cu_seqlens"))
      val fill = r.getAs[Long]("fill")
      val lens = lensByBin(key)
      assert(cu.head === 0L && cu.last === fill, s"spans [0, fill] at $key")
      assert(cu === cu.sorted && cu.distinct === cu, s"strictly increasing at $key")
      assert(r.getAs[Long]("n_segments") === r.getAs[Long]("n_docs"))
      assert(cu.length === lens.length + 1)
      assert(cu === lens.scanLeft(0L)(_ + _), s"prefix sums of FFD order at $key")
      assert(r.getAs[Long]("fill") + r.getAs[Long]("pad") === seqLen)
    }
    // cross-operator law: interior boundaries == materializeBestFit's
    // doc layout — token_ids concatenate docs at exactly these offsets
    // (verified indirectly: the q153 materializer sorts by the same
    // (n desc, id) struct; equality of the orders is pinned above via
    // the layout-derived lens)
    assert(out.map(_.getAs[Long]("n_docs")).sum ===
      layout.filter(!col("oversize")).count(), "every placed doc in one segment")
  }

  test("globalWriterManifest: seq_id bijection, exact file rule, one row per (epoch, sequence)") {
    val docs = shardDocs(80)
    val seqLen = 60L
    val fileBudget = 150L
    val epochs = 3
    val layout = ShardPack.packBestFit(docs, "doc_id", "n_tok", seqLen, 400L)
    val out = ShardPack.globalWriterManifest(layout, fileBudget, epochs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // the layout's bin rollup is the sequence universe
    val wantBins = layout.filter(!col("oversize")).collect()
      .groupBy(r => (r.getLong(2), r.getLong(3)))
      .map { case (sb, rs) => sb -> (rs.map(_.getLong(1)).sum, rs.length.toLong) }
    val n = wantBins.size
    assert(out.length === n * epochs, "one row per (epoch, sequence)")
    (0L until epochs.toLong).foreach { e =>
      val slice = out.filter(_._7 == e)
      assert(slice.map(r => (r._1, r._2)).toSet === wantBins.keySet,
        s"epoch $e covers every sequence exactly once")
      // seq_id: contiguous 0..N-1 in (shard, bin) order
      val ordered = slice.sortBy(r => (r._1, r._2))
      assert(ordered.map(_._5).toSeq === (0L until n.toLong),
        s"epoch $e seq_id bijection")
      // fill/n_docs match the rollup; file == running-fill-before // budget
      var cum = 0L
      ordered.foreach { r =>
        val (fill, nd) = wantBins((r._1, r._2))
        assert(r._3 === fill && r._4 === nd, s"rollup of bin (${r._1},${r._2})")
        assert(r._6 === cum / fileBudget, s"file rule at seq ${r._5}")
        cum += fill
      }
      // pos dense within (epoch, shard)
      slice.groupBy(_._1).foreach { case (sh, ss) =>
        assert(ss.map(_._8).sorted.toSeq === (0L until ss.length.toLong),
          s"epoch $e shard $sh pos dense")
      }
    }
    // epochs are fresh permutations (some sequence moves between epochs,
    // given any shard with >= 2 sequences)
    val posByEpoch = out.groupBy(r => (r._1, r._2)).values
    val anyMultiSeq = out.groupBy(_._1).values.exists(_.length / epochs >= 2)
    if (anyMultiSeq)
      assert(posByEpoch.exists(rs => rs.map(_._8).distinct.length > 1),
        "per-epoch permutations differ")
  }

  test("lossMaskSpans: spans tile every sequence exactly; turns reconstruct; zero-token turns keep their index") {
    import spark.implicits._
    // dlg 10: three turns (5, 7, 4 tokens); dlg 20: one 20-token turn
    // (straddles bins at seqLen 8); dlg 30: zero-token middle turn
    val turns = Seq(
      (10L, 0L, 100L, "user", 5L), (10L, 1L, 101L, "assistant", 7L),
      (10L, 2L, 102L, "user", 4L),
      (20L, 0L, 200L, "assistant", 20L),
      (30L, 0L, 300L, "user", 3L), (30L, 1L, 301L, "assistant", 0L),
      (30L, 2L, 302L, "user", 2L)
    ).toDF("dlg_id", "ts", "event_id", "role", "n_tokens")
    val seqLen = 8L
    val out = Dialogue.lossMaskSpans(
        turns, "dlg_id", "ts", "event_id", "role", "n_tokens", seqLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    val total = 5L + 7 + 4 + 20 + 3 + 2
    assert(out.map(_._6).sum === total, "token conservation")
    // TILING: every sequence is exactly covered — contiguous from 0,
    // full except the global last
    val lastSeq = out.map(_._4).max
    out.groupBy(_._4).foreach { case (sq, spans) =>
      val sorted = spans.sortBy(_._5)
      assert(sorted.head._5 === 0L, s"seq $sq starts at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 + a._6 === b._5, s"seq $sq gap between spans")
        case _ =>
      }
      val covered = sorted.map(_._6).sum
      if (sq != lastSeq) assert(covered === seqLen, s"seq $sq not full")
      else assert(covered <= seqLen)
    }
    // PER-TURN reconstruction: spans of a turn concatenate to its token
    // count; first span is not a continuation, later ones are and start
    // local 0; global positions are one contiguous range
    val nTok = Map((10L, 0L) -> 5L, (10L, 1L) -> 7L, (10L, 2L) -> 4L,
      (20L, 0L) -> 20L, (30L, 0L) -> 3L, (30L, 2L) -> 2L)
    out.groupBy(t => (t._1, t._2)).foreach { case (k, spans) =>
      val sorted = spans.sortBy(_._4)
      assert(sorted.map(_._6).sum === nTok(k), s"turn $k length")
      assert(!sorted.head._7 && sorted.tail.forall(_._7), s"turn $k continuation flags")
      sorted.tail.foreach(sp => assert(sp._5 === 0L, s"turn $k continuation local 0"))
      val gpos = sorted.map(sp => sp._4 * seqLen + sp._5)
      sorted.zip(gpos).sliding(2).foreach {
        case Array((a, ga), (_, gb)) => assert(ga + a._6 === gb, s"turn $k contiguous")
        case _ =>
      }
    }
    // zero-token turn: no span, but the NEXT turn keeps index 2
    assert(!out.exists(t => t._1 === 30L && t._2 === 1L), "empty turn emits no span")
    assert(out.exists(t => t._1 === 30L && t._2 === 2L), "later turn keeps its index")
    // turns tile their dialogue in order: within a dialogue the global
    // start of turn t+1 is the global end of turn t
    out.groupBy(_._1).foreach { case (d, spans) =>
      val byTurn = spans.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, sp) =>
        val s = sp.sortBy(_._4)
        (s.head._4 * seqLen + s.head._5,
          s.last._4 * seqLen + s.last._5 + s.last._6)
      }
      byTurn.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 === s2, s"dlg $d turn adjacency")
        case _ =>
      }
    }
    // layout agreement with packSequences (dialogues as docs)
    val dlgDocs = turns.groupBy("dlg_id").agg(sum("n_tokens").as("n_tok"))
    val pieces = ShardPack.packSequences(dlgDocs, "dlg_id", "n_tok", seqLen)
      .groupBy("bin").agg(sum("piece_len").as("tok"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spansBySeq = out.groupBy(_._4).view.mapValues(_.map(_._6).sum).toMap
    assert(spansBySeq === pieces, "sequence fill == packSequences bins")
  }

  test("sftTokenStream/materializeSequencesWithMask: dense dialogue indices, role masks, mask == lossMaskSpans coordinates") {
    import spark.implicits._
    val turns = Seq(
      (10L, 0L, 1L, "user", "low lower"),
      (10L, 1L, 2L, "assistant", "new newer lowest"),
      (10L, 2L, 3L, "user", "wide"),
      (20L, 0L, 4L, "assistant", "low wide wide new")
    ).toDF("dlg_id", "ts", "event_id", "role", "content")
    val merges = Bpe.trainMergesFast(turns, "content", 3)
    val stream = Dialogue.sftTokenStream(
      turns, "dlg_id", "ts", "event_id", "role", "content", merges, Set("assistant"))
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // local reference: per-turn pieces in turn order, lexicographic ids
    val data = Seq(
      (10L, Seq(("user", "low lower"), ("assistant", "new newer lowest"),
        ("user", "wide"))),
      (20L, Seq(("assistant", "low wide wide new"))))
    def piecesOf(text: String) = "[a-z0-9]+".r.findAllIn(text.toLowerCase)
      .toSeq.flatMap(w => Bpe.applyMergesLocal(w, merges))
    val vid = data.flatMap(_._2).flatMap(t => piecesOf(t._2))
      .distinct.sorted.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
    val want = data.flatMap { case (d, ts) =>
      val toks = ts.flatMap { case (role, text) =>
        piecesOf(text).map(p => (vid(p), if (role == "assistant") 1L else 0L))
      }
      toks.zipWithIndex.map { case ((tid, m), i) => (d, i.toLong, tid, m) }
    }
    assert(got.sorted.toSeq === want.sorted, "stream == local reference")
    // the composed artifact: conservation, array/count agreement, and
    // the mask array landing EXACTLY on lossMaskSpans' coordinates
    val seqLen = 5L
    val bins = ShardPack.materializeSequencesWithMask(stream, "dlg_id", "mask", seqLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](4), r.getSeq[Long](5)))
    assert(bins.map(_._2).sum === want.size.toLong, "token conservation")
    bins.foreach { case (b, n, ids, mask) =>
      assert(ids.size.toLong === n && mask.size.toLong === n, s"bin $b arrays")
      assert(mask.forall(m => m === 0L || m === 1L), s"bin $b mask domain")
    }
    val maskedPos = bins.flatMap { case (b, _, _, mask) =>
      mask.zipWithIndex.collect { case (1L, i) => (b, i.toLong) }
    }.toSet
    val counts = turns.select("dlg_id", "ts", "event_id", "role")
      .join(Bpe.tokenCounts(turns, "event_id", "content", merges),
        Seq("event_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
    val spanPos = Dialogue.lossMaskSpans(
        counts, "dlg_id", "ts", "event_id", "role", "n_tokens", seqLen)
      .filter(col("role") === "assistant")
      .collect().flatMap { r =>
        val (sq, ls, ln) = (r.getLong(3), r.getLong(4), r.getLong(5))
        (ls until ls + ln).map(p => (sq, p))
      }.toSet
    assert(maskedPos === spanPos, "mask array == lossMaskSpans coordinates")
    // refusal: an empty mask-role set is the silent all-zero-mask bug
    val err = intercept[IllegalArgumentException] {
      Dialogue.sftTokenStream(turns, "dlg_id", "ts", "event_id", "role",
        "content", merges, Set.empty)
    }
    assert(err.getMessage.contains("maskRoles"))
  }

  test("sftCurate: invalid and benchmark-leaking dialogues drop whole; output == q151 chain over the hand-computed survivors") {
    import spark.implicits._
    // user 1: valid clean dialogue; user 2: INVALID (a,a run); user 3:
    // valid but turn 31 leaks a benchmark prompt -> dropped whole;
    // user 4: valid clean (proves the vocab excludes dropped content)
    val ev = Seq(
      (10L, 0L, 1L, "user", "low lower"),
      (11L, 1L, 1L, "assistant", "new newer"),
      (20L, 0L, 2L, "user", "wide low"),
      (21L, 1L, 2L, "user", "wide wide"),
      (30L, 0L, 3L, "user", "low wide"),
      (31L, 1L, 3L, "assistant", "secret bench prompt"),
      (40L, 0L, 4L, "user", "lowest newest"),
      (41L, 1L, 4L, "assistant", "low new")
    ).toDF("event_id", "ts", "user_id", "role", "content")
    val holdout = Seq((900L, "secret bench prompt")).toDF("event_id", "content")
    val merges = Bpe.trainMergesFast(ev, "content", 3)
    val seqLen = 5L
    val out = Dialogue.sftCurate(
        ev, "user_id", "ts", "event_id", "role", "content",
        holdout, merges, Set("assistant"), gapNanos = 10L, seqLen,
        contamGramN = 3)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](4), r.getSeq[Long](5)))
    // survivors are exactly users 1 and 4's dialogues — reproduce the
    // q151 chain over that hand-selected turn set
    val clean = ev.filter(col("user_id").isin(1L, 4L))
      .withColumn("session_seq", lit(1L))
      .withColumn("dlg_id", col("user_id") * 100000L + 1L)
    val want = ShardPack.materializeSequencesWithMask(
        Dialogue.sftTokenStream(clean, "dlg_id", "ts", "event_id", "role",
          "content", merges, Set("assistant")),
        "dlg_id", "mask", seqLen)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](4), r.getSeq[Long](5)))
    assert(out.sortBy(_._1).toSeq === want.sortBy(_._1).toSeq,
      "curated output == direct chain over the survivors")
    // the vocabulary is survivor-only: ids are dense over the pieces of
    // users 1/4's content alone
    def piecesOf(texts: Seq[String]) = texts
      .flatMap(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase))
      .flatMap(w => Bpe.applyMergesLocal(w, merges)).distinct.sorted
    val survPieces = piecesOf(Seq("low lower", "new newer", "lowest newest", "low new"))
    val maxId = out.flatMap(_._2).max
    assert(maxId === survPieces.size.toLong - 1,
      "vocab ids dense over surviving pieces only (dropped content absent)")
    // total masked tokens == assistant-turn tokens of the survivors
    val maskedTotal = out.flatMap(_._3).count(_ === 1L).toLong
    val wantMasked = Seq("new newer", "low new")
      .map(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase)
        .flatMap(w => Bpe.applyMergesLocal(w, merges)).size.toLong).sum
    assert(maskedTotal === wantMasked, "mask covers exactly the assistant turns")
    // the stage report makes the gates legible: 4 in, 1 invalid,
    // 1 contaminated-valid, 2 kept
    val counters = Dialogue.sftCurateCounters(
        ev, "user_id", "ts", "event_id", "role", "content",
        holdout, gapNanos = 10L, contamGramN = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counters === Map(
      "dialogues_total" -> 4L, "dialogues_invalid" -> 1L,
      "dialogues_contaminated_valid" -> 1L, "dialogues_kept" -> 2L),
      s"stage report: $counters")
  }

  test("Dialogue: gap sessionization and the alternation QC verdict") {
    // user 1: u,a,a,u within the gap (ONE violation at the a,a
    // adjacency), then a lone turn after the gap; user 2 alternates
    // perfectly; user 3 is a single-role monologue (2 violations)
    val ev = Seq(
      (1L, 0L, 1L, "user"), (2L, 5L, 1L, "assistant"),
      (3L, 8L, 1L, "assistant"), (4L, 9L, 1L, "user"),
      (5L, 100L, 1L, "user"),
      (6L, 0L, 2L, "user"), (7L, 1L, 2L, "assistant"),
      (8L, 2L, 2L, "user"), (9L, 3L, 2L, "assistant"),
      (10L, 0L, 3L, "user"), (11L, 1L, 3L, "user"), (12L, 2L, 3L, "user")
    ).toDF("event_id", "ts", "user_id", "role")
    val out = Dialogue.dialogueStats(
        ev, "user_id", "ts", "event_id", "role", gapNanos = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(out((1L, 1L)) === ((4L, 2L, 1L, false)), "a,a adjacency is one violation")
    assert(out((1L, 2L)) === ((1L, 1L, 0L, true)), "a lone turn is trivially valid")
    assert(out((2L, 1L)) === ((4L, 2L, 0L, true)), "perfect alternation")
    assert(out((3L, 1L)) === ((3L, 1L, 2L, false)), "monologue: one violation per adjacency")
    assert(out.size === 4)
    // session cut law: gap STRICTLY greater than gapNanos starts a new
    // session (ts 9 -> 100 with gap 10 cuts; ts 0 -> 5 -> 8 -> 9 does not)
    val sess = Dialogue.sessionize(ev, "user_id", "ts", "event_id", 10L)
      .filter(col("user_id") === 1L)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(sess(4L) === 1L && sess(5L) === 2L)
  }

  test("dialogue repair policies: merge yields all-valid dialogues, is identity on valid ones; drop keeps exactly the valid events") {
    import spark.implicits._
    // the QC fixture with per-event content c<id>
    val ev = Seq(
      (1L, 0L, 1L, "user"), (2L, 5L, 1L, "assistant"),
      (3L, 8L, 1L, "assistant"), (4L, 9L, 1L, "user"),
      (5L, 100L, 1L, "user"),
      (6L, 0L, 2L, "user"), (7L, 1L, 2L, "assistant"),
      (8L, 2L, 2L, "user"), (9L, 3L, 2L, "assistant"),
      (10L, 0L, 3L, "user"), (11L, 1L, 3L, "user"), (12L, 2L, 3L, "user")
    ).toDF("event_id", "ts", "user_id", "role")
      .withColumn("content", concat(lit("c"), col("event_id")))
    val merged = Dialogue.mergeConsecutiveSameRole(
        ev, "user_id", "ts", "event_id", "role", "content", gapNanos = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))
      .toMap
    // user 1 session 1: the a,a run collapses to one turn anchored at
    // event 2 with joined content; user 3: the whole monologue is one turn
    assert(merged((1L, 1L, 2L)) === (("assistant", 5L, 2L, 2L, "c2 c3")))
    assert(merged((3L, 1L, 1L)) === (("user", 0L, 10L, 3L, "c10 c11 c12")))
    // POLICY LAW: no same-role adjacency survives in any dialogue
    merged.toSeq.groupBy(k => (k._1._1, k._1._2)).foreach { case (d, turns) =>
      val roles = turns.sortBy(_._1._3).map(_._2._1)
      roles.sliding(2).foreach {
        case Seq(a, b) => assert(a !== b, s"dialogue $d: same-role adjacency survived")
        case _ =>
      }
    }
    // conservation: Σ n_merged per dialogue == original turn count
    val origCounts = ev.groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    merged.toSeq.groupBy(_._1._1).foreach { case (u, turns) =>
      assert(turns.map(_._2._4).sum === origCounts(u), s"user $u conservation")
    }
    // IDENTITY on already-valid dialogues: user 2 passes through turn
    // for turn, n_merged 1, content untouched
    val u2 = merged.filter(_._1._1 === 2L).toSeq.sortBy(_._1._3).map(_._2)
    assert(u2.map(t => (t._1, t._3, t._4, t._5)) === Seq(
      ("user", 6L, 1L, "c6"), ("assistant", 7L, 1L, "c7"),
      ("user", 8L, 1L, "c8"), ("assistant", 9L, 1L, "c9")))
    // DROP policy: survivors are exactly the events of valid dialogues
    // (user 1's lone session-2 turn + user 2's perfect alternation)
    val kept = Dialogue.dropInvalidDialogues(
        ev, "user_id", "ts", "event_id", "role", gapNanos = 10L)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(5L, 6L, 7L, 8L, 9L))
    // drop is idempotent
    val again = Dialogue.dropInvalidDialogues(
        Dialogue.dropInvalidDialogues(
          ev, "user_id", "ts", "event_id", "role", 10L)
          .drop("session_seq"),
        "user_id", "ts", "event_id", "role", 10L)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(again === kept)
  }

  // --- decontaminateBloom ---------------------------------------------------

  test("decontaminateBloom equals exact decontaminate even when FPs are forced") {
    // 200 corpus docs x distinct grams vs a tiny sketch at fpp=0.3:
    // the Bloom prefilter WILL pass false positives; the exact verify
    // semi-join must remove every one of them
    val corpus = spark.range(200).select(
      col("id").as("doc_id"),
      concat_ws(" ", col("id").cast("string"),
        (col("id") + 1).cast("string"), (col("id") + 2).cast("string"),
        (col("id") + 3).cast("string"), lit("tail"), lit("words")).as("text"))
    val bench = Seq((9000L, "5 6 7 8"), (9001L, "100 101 102 103")).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text", 4)
    val bloom = Dedup.decontaminateBloom(
      corpus, bench, "doc_id", "text", 4, expectedItems = 8L, fpp = 0.3)
    assert(rows(bloom) === rows(exact))
    assert(bloom.count() > 0) // the pin is non-vacuous
  }

  test("decontaminateBloom returns empty on a disjoint benchmark") {
    val corpus = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val bench = Seq((2L, "q r s t u v")).toDF("doc_id", "text")
    assert(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", 4).count() === 0)
  }

  // --- Sampling.topNPerGroup ------------------------------------------------

  private def stratDocs = spark.range(1000).select(
    col("id").as("doc_id"),
    // skewed groups: 'big' holds ~90% of rows
    when(col("id") % 10 < 9, "big").otherwise(concat(lit("s"), col("id") % 3)).as("grp"))

  test("topNPerGroup equals the per-group row_number window") {
    val got = Sampling.topNPerGroup(stratDocs, "grp", "doc_id", n = 7)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(md5(concat(lit("strat:"), col("doc_id").cast("string"))), col("doc_id"))
    val want = stratDocs
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= 7)
      .select(col("grp"), col("doc_id"), col("sample_rank"))
    assert(rows(got) === rows(want))
  }

  test("topNPerGroup is exact on groups smaller than n and invariant to input layout") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "grp")
    val out = Sampling.topNPerGroup(docs, "grp", "doc_id", n = 5)
    assert(out.count() === 3) // undersized groups keep every member
    assert(out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 2L, "b" -> 1L))
    // partition layout must not change the sample
    val a = Sampling.topNPerGroup(stratDocs.repartition(13), "grp", "doc_id", n = 4)
    val b = Sampling.topNPerGroup(stratDocs.repartition(2), "grp", "doc_id", n = 4)
    assert(rows(a) === rows(b))
  }

  // --- CmsSketch / cmsHeavyHitters ------------------------------------------

  test("cms estimates never undercount and are exact absent collisions") {
    val docs = Seq(
      (1L, "x y z x y z x y z"), // "x y z" x3 (+ wraps)
      (2L, "x y z q r s")
    ).toDF("doc_id", "text")
    val out = TextStats.cmsHeavyHitters(docs, "doc_id", "text", n = 3, k = 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (g, exact, est) =>
      assert(est >= exact, s"CMS undercounted '$g': $est < $exact")
    }
    // 7 distinct grams in a 4x256 sketch: collisions are impossible to
    // rule out per-row but the min-over-4-windows estimate must be
    // exact for the top gram here (verified value, not just a bound)
    val topRow = out.find(_._1 == "x y z").get
    assert(topRow._2 === 4L && topRow._3 === 4L)
  }

  test("cms sketch is partitioning-invariant and mass-conserving") {
    val docs = spark.range(500).select(
      col("id").as("doc_id"),
      concat_ws(" ", (col("id") % 7).cast("string"), (col("id") % 11).cast("string"),
        (col("id") % 13).cast("string"), lit("pad"), lit("tail")).as("text"))
    def sketch(df: org.apache.spark.sql.DataFrame) = {
      val occ = df.select(explode(expr(
        "transform(sequence(0, size(split(text, ' ')) - 3), " +
          "i -> array_join(slice(split(text, ' '), i + 1, 3), ' '))")).as("gram"))
      occ.agg(graft.functions.CmsSketch(col("gram"), 4, 256).as("sk"))
        .collect().head.getSeq[Long](0)
    }
    val s1 = sketch(docs.repartition(1))
    val s7 = sketch(docs.repartition(7))
    assert(s1 === s7)
    // every occurrence increments exactly one counter per depth row
    val totalOcc = 500L * 3 // 5 tokens -> 3 trigrams per doc
    (0 until 4).foreach { j =>
      assert(s1.slice(j * 256, (j + 1) * 256).sum === totalOcc, s"row $j mass")
    }
  }

  // --- cutDuplicatedSpans ---------------------------------------------------

  test("cutDuplicatedSpans removes exactly the covered positions") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // the duplicated span
    val docs = Seq(
      (1L, s"a b c $shared x y z"), // span at positions 3..10: cut
      (2L, s"$shared p q"),         // span at 0..7: cut
      (3L, "u v w only here no repeats at all"), // untouched
      (4L, shared)                  // fully duplicated: collapses to ''
    ).toDF("doc_id", "text")
    val out = Dedup.cutDuplicatedSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((14L, 6L, "a b c x y z")))
    assert(out(2L) === ((10L, 2L, "p q")))
    assert(out(3L) === ((9L, 9L, "u v w only here no repeats at all")))
    assert(out(4L) === ((8L, 0L, "")))
    // consistency with the stats operator: a doc loses tokens iff it
    // reported duplicated spans
    val stats = Dedup.duplicatedSpanStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { case (id, (nt, nk, _)) =>
      assert((nk < nt) === (stats(id) > 0L), s"doc $id cut/stats disagree")
    }
  }

  // --- hashedLinearScore ----------------------------------------------------

  test("hashedLinearScore: integer margin is partitioning-invariant and matches per-token weights") {
    val docs = spark.range(300).select(
      col("id").as("doc_id"),
      concat_ws(" ", (col("id") % 23).cast("string"), (col("id") % 17).cast("string"),
        lit("common"), (col("id") % 5).cast("string")).as("text"))
    val a = TextStats.hashedLinearScore(docs.repartition(1), "doc_id", "text")
    val b = TextStats.hashedLinearScore(docs.repartition(11), "doc_id", "text")
    assert(rows(a) === rows(b)) // integer sums are order-independent
    // independent reformulation: weight each token via the same closed
    // form, aggregated through a different plan (array transform + HOF
    // aggregate instead of explode + groupBy)
    val want = docs.select(
      col("doc_id"),
      expr("""aggregate(
        transform(filter(split(trim(text), '\\s+'), t -> length(t) > 0),
          t -> pmod(cast(conv(substring(md5(cast(t as binary)), 1, 8), 16, 10) as bigint) % 4096
                         * 2654435761L, 1000L) - 500L),
        0L, (acc, w) -> acc + w)""").as("margin"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = a.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // label is the margin's sign
    a.collect().foreach { r =>
      assert(r.getLong(3) === (if (r.getLong(1) > 0) 1L else 0L))
    }
  }

  // --- Curation.curate ------------------------------------------------------

  test("curate applies every stage: quality gate, dedup keep, decontamination, packing") {
    val longText = (1 to 25).map(i => s"w$i").mkString(" ") // 25 tokens: passes the gate
    val corpus = Seq(
      (10L, longText),                 // kept (duplicate group keeper)
      (11L, longText),                 // dropped: exact duplicate of 10
      (12L, "too short"),              // dropped: < 20 tokens
      (13L, longText + " extra tail"), // kept: distinct text
      (14L, (1 to 21).map(i => s"c$i").mkString(" ")) // dropped: contaminated
    ).toDF("doc_id", "text")
    val holdout = Seq((99L, "c5 c6 c7 c8")).toDF("doc_id", "text")
    val out = Curation.curate(corpus, holdout, "doc_id", "text", minTokens = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(10L, 13L))
    assert(out(10L) === 25L && out(13L) === 27L)
    // both fit one 2000-token shard
    val shards = Curation.curate(corpus, holdout, "doc_id", "text", minTokens = 20)
      .select("shard").distinct().collect().map(_.getLong(0)).toSet
    assert(shards === Set(0L))
  }

  test("temperatureMix flattens: small domains get higher per-doc rates, budget holds") {
    // 400 docs in 'big', 25 in 'small': proportional sampling would give
    // both the same per-doc rate; alpha=0.5 must upweight 'small'
    val docs = ((1L to 400L).map(i => (i, "big")) ++ (501L to 525L).map(i => (i, "small")))
      .toDF("doc_id", "lang")
    val out = TextStats.temperatureMix(docs, "doc_id", "lang", budgetDocs = 100L)
    val rates = out.select("lang", "n_docs", "permille").distinct()
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // s_big = 20, s_small = 5, S = 25:
    // permille_big = 100_000*20/(25*400) = 200; small = 100_000*5/(25*25) = 800
    assert(rates === Map("big" -> ((400L, 200L)), "small" -> ((25L, 800L))))
    // expected kept docs = 400*0.2 + 25*0.8 = 100 exactly in rates;
    // the md5 draw realizes it within a loose band
    val kept = out.count()
    assert(kept > 60 && kept < 140, s"mixture size $kept implausible for budget 100")
    // every small-domain doc has at most 1 copy here (permille < 1000)
    assert(out.groupBy("doc_id").count().agg(max("count")).head().getLong(0) === 1L)
  }

  test("temperatureMix per-mille STARVES past 1000:1 corpus/budget; ppm resolution samples") {
    // budget 3 over 5000 docs = 0.6 per-mille -> floors to rate 0 at
    // the per-mille grid (the q94 century 0-rows measurement); the same
    // mixture at per-million resolution has rate 600 ppm and keeps a
    // budget-sized sample
    val docs = (1L to 5000L).map(i => (i, "only")).toDF("doc_id", "lang")
    val starved = TextStats.temperatureMix(docs, "doc_id", "lang", budgetDocs = 3L)
    assert(starved.count() === 0L)
    val ppm = TextStats.temperatureMixAtResolution(
      docs, "doc_id", "lang", budgetDocs = 3L, resolution = 1000000L)
    val rates = ppm.select("rate").distinct().collect().map(_.getLong(0))
    assert(rates.toSeq === Seq(600L)) // 1e6 * 3 / 5000
    val kept = ppm.count()
    assert(kept >= 1 && kept <= 12, s"ppm mixture size $kept implausible for budget 3")
  }

  test("HLL sketch store: merged per-source estimate == whole-corpus estimate, duplicate-proof") {
    val docs = (1L to 3000L).map(i => (s"src${i % 4}", s"user${i % 700}"))
      .toDF("source", "user")
    val perSource = TextStats.hllSketchByGroup(docs, "source", "user")
    assert(perSource.count() === 4L)
    val merged = TextStats.mergeHllSketches(perSource, "hll")
      .head().getLong(0)
    // sharding-insensitivity, within the documented HLL4 tolerance:
    // merging the 4 per-source rows vs 2 per-parity rows differs only
    // by the union's register clipping (measured ±2 at 700 distinct —
    // single-sketch HIP estimates and cross-grouping unions are NOT
    // bit-pinned; the store's contract is the union path + the band)
    val byParity = TextStats.mergeHllSketches(
      TextStats.hllSketchByGroup(
        docs.withColumn("source", expr("length(user) % 2")), "source", "user"),
      "hll").head().getLong(0)
    assert(math.abs(merged - byParity) <= 7L,
      s"sharding moved the estimate: $merged vs $byParity")
    // duplicates never move a register: doubling the corpus changes nothing
    val doubled = TextStats.mergeHllSketches(
      TextStats.hllSketchByGroup(docs.unionAll(docs), "source", "user"), "hll")
      .head().getLong(0)
    assert(doubled === merged)
    // the estimate is an estimate — but at 700 true distinct and 2^12
    // registers it must land within a tight band
    assert(math.abs(merged - 700L) < 35L, s"estimate $merged far from 700")
  }

  // md5Base48: the 48-bit md5 prefix key, computed by Md5PrefixLong.hash(_, 6).
  test("md5Base48 matches the SQL conv(substring(md5, 1, 12)) formulation") {
    val vals = Seq("alpha beta", "x", "", "the quick brown fox")
    val fromSql = vals.toDF("v")
      .select(conv(substring(md5(col("v").cast("binary")), 1, 12), 16, 10)
        .cast("long").as("b"))
      .collect().map(_.getLong(0))
    val fromJvm = vals.map(v =>
      graft.functions.Md5PrefixLong.hash(v.getBytes(java.nio.charset.StandardCharsets.UTF_8), 6))
    assert(fromSql.toSeq === fromJvm)
  }
}
