package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and encoding (Sennrich,
  * Haddow & Birch, ACL 2016 — "Neural Machine Translation of Rare
  * Words with Subword Units"), in the word-count formulation every
  * production BPE trainer uses: the corpus is read ONCE into a
  * (word, count) frame, and all merge iterations run over that frame —
  * distinct-word-sized, not corpus-sized. This is the operator a
  * pretraining shop runs before anything else touches tokens; the
  * reference pipeline has no tokenizer (its parsers split on
  * delimiters), so this extends the engine's LLM-data surface.
  *
  * Symbol representation — chosen so BOTH the merge and the oracle are
  * one engine-portable string `replace`: a word's symbol sequence is
  * kept as a single string, tokens joined by TWO spaces with one
  * leading and one trailing space (`"low"` → `" l  o  w  _ "`; `_` is
  * the end-of-word marker, safe because words are the house
  * `[a-z0-9]+` token stream). Merging pair (x, y) is then
  * `replace(sym, " x  y ", " xy ")`:
  *
  *  - the single-space anchors make token boundaries explicit, so a
  *    pair can never match inside a longer token (`" a  b "` does not
  *    match `" aa  b "`);
  *  - the DOUBLE-space join means adjacent occurrences share no
  *    characters, so one left-to-right non-overlapping `replace` pass
  *    (Java, Spark and DuckDB all scan this way — verified on the
  *    `a a a a a` run case) merges exactly the occurrences greedy
  *    left-to-right BPE merges: `" a  a  a  a  a "` →
  *    `" aa  aa  a "`, never the single-space encoding's corrupted
  *    `" aa  a  aa "` (the first match would eat the next
  *    occurrence's leading anchor).
  *
  * Scale shape: ONE corpus pass builds the word-count frame (map-side
  * partial hash agg on the token stream); each merge iteration is a
  * pair-explode + hash agg over the DISTINCT-WORD frame (bounded by
  * vocabulary, not corpus — ~10⁶ rows at 100 TB) and a 1-row
  * `TakeOrderedAndProject` argmax collected to the driver (the merge
  * table IS a driver-sized model, same contract as the streaming
  * frozen-model maps). Iteration frames are re-rooted on their own
  * locally-checkpointed RDD so `numMerges` iterations nest neither
  * plans nor RDD lineage (see [[graft.ops.Rounds]]). Encoding is scan-pure: a chain of
  * `numMerges` codegen'd `replace`s inside one projection — no
  * shuffle, no state.
  */
object Bpe {

  /** End-of-word marker appended before splitting into symbols —
    * distinguishes word-final subwords ("est_" in "lowest") from
    * word-internal ones ("est" in "estimate"), the Sennrich §3.2
    * device. Outside `[a-z0-9]`, so it cannot collide with a corpus
    * character.
    */
  val EndOfWord = "_"

  /** (w, cnt) over `docs` — the one corpus-sized pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextStats.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Initial symbol string of a word: characters + [[EndOfWord]],
    * double-space joined, single-space padded (`"ab"` → `" a  b  _ "`).
    */
  def symInit(w: Column): Column =
    concat(lit(" "),
      rtrim(regexp_replace(concat(w, lit(EndOfWord)), "(.)", "$1  ")),
      lit(" "))

  /** One learned merge: `left`+`right` → `left+right`, with the pair's
    * corpus frequency at learn time.
    */
  final case class Merge(step: Int, left: String, right: String, cnt: Long)

  /** Apply `merges` IN LEARN ORDER to a symbol-string column — a chain
    * of literal `replace`s, one codegen'd projection.
    */
  def applyMerges(sym: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(sym) { (s, m) =>
      replace(s, lit(s" ${m.left}  ${m.right} "), lit(s" ${m.left}${m.right} "))
    }

  /** Train `numMerges` BPE merges over `docs(textCol)`; returns the
    * merge table as driver-side rows (it IS the model — tokenizer merge
    * tables are a few tens of thousands of rows at production vocab
    * sizes, the frozen-model-map contract). Ties break deterministic:
    * highest count, then (left, right) ascending — the oracle's
    * `ORDER BY c DESC, l, r LIMIT 1`. Stops early when no pair is left
    * (every word fused to a single token).
    *
    * The 1-row-per-iteration `collect` is the sanctioned driver-scalar
    * pattern: the argmax frame is cut to one row by
    * `TakeOrderedAndProject` before anything reaches the driver.
    */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var (cur, curRdd) = graft.ops.Rounds.cut(
      wordCounts(docs, textCol).withColumn("sym", symInit(col("w"))))
    // eagerly unpersist each superseded round's checkpointed RDD once
    // the NEXT round's argmax collect has materialized its successor
    // (the Rounds.iterate discipline) — otherwise up to
    // numMerges vocabulary-sized cached RDDs linger until GC and
    // releaseAll can't reclaim them; the final round's RDD registers
    // with CacheScope like connectedComponents' result
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    var step = 1
    while (step <= numMerges) {
      val t = split(trim(col("sym")), "  ")
      val best = cur
        .select(col("cnt"), t.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("cnt"),
          slice(col("t"), lit(1), size(col("t")) - 1).as("ls"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("rs"))
        .select(col("cnt"), explode(arrays_zip(col("ls"), col("rs"))).as("p"))
        .groupBy(col("p.ls").as("l"), col("p.rs").as("r"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      // the collect materialized cur's checkpoint, so the round BEFORE
      // it can no longer be probed — release it now
      if (prevRdd != null) { prevRdd.unpersist(blocking = false); prevRdd = null }
      if (best.isEmpty) {
        graft.ops.CacheScope.registerRdd(curRdd)
        return merges.toSeq // vocabulary fully fused
      }
      val m = Merge(step, best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += m
      if (step < numMerges) {
        // the last round needs no successor — its argmax was the model's
        // final row; building one would only re-root a frame nobody reads
        prevRdd = curRdd
        val next = graft.ops.Rounds.cut(cur.withColumn("sym",
          replace(col("sym"), lit(s" ${m.left}  ${m.right} "), lit(s" ${m.left}${m.right} "))))
        cur = next._1
        curRdd = next._2
      }
      step += 1
    }
    graft.ops.CacheScope.registerRdd(curRdd)
    merges.toSeq
  }

  /** [[trainMerges]] as a frame: (step, pair_left, pair_right, cnt). */
  def train(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(docs, textCol, numMerges)
      .toDF("step", "pair_left", "pair_right", "cnt")
  }

  /** Encode `docs` with a trained merge table: one row per (id, piece
    * occurrence), pieces in reading order within each word. Scan-pure —
    * tokenize, init symbols, fold the merge chain, split: a single
    * projection pipeline with zero exchanges, the shape that encodes a
    * 100 TB corpus at scan speed. Streamable unchanged (the frozen merge
    * table is baked into the plan); the StreamingOpsSpec case
    * "encodeBpeStream == batch Bpe.encode under a frozen merge table"
    * pins stream == batch.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    docs
      .select(col(idCol), explode(TextStats.words(col(textCol))).as("w"))
      .select(col(idCol),
        explode(split(trim(applyMerges(symInit(col("w")), merges)), "  ")).as("piece"))

  /** Corpus piece histogram under a trained merge table, top `topK` by
    * frequency (ties: piece ascending). Runs over the DISTINCT-WORD
    * frame — each word is encoded once and contributes its count, so
    * the merge-chain projection runs at vocabulary size, not corpus
    * size (the memoized form of [[encode]] for whole-corpus stats).
    */
  def pieceHistogram(docs: DataFrame, textCol: String,
      merges: Seq[Merge], topK: Int): DataFrame =
    wordCounts(docs, textCol)
      .select(col("cnt"),
        explode(split(trim(applyMerges(symInit(col("w")), merges)), "  ")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("n"))
      .orderBy(col("n").desc, col("piece").asc)
      .limit(topK)

  // ---------------------------------------------------------------------
  // Production-vocab paths. [[trainMerges]] runs one Spark job per merge
  // and [[applyMerges]] compiles one `replace` per merge into a single
  // projection — both exactly right at tens of merges (the SQL-oracle
  // shapes) and exactly wrong at production vocab sizes, where a 32k-merge
  // table would mean 32k scheduled jobs and a codegen method far past
  // Janino's limits. The paths below keep the SAME semantics (spec-pinned
  // equal, and driver-gated against the same DuckDB oracles) with the
  // production cost model: ONE corpus-sized Spark pass total, everything
  // merge-count-dependent running in driver/executor memory over
  // vocabulary-sized data. The (word, count) vocabulary is the
  // driver-sized input here — Heaps' law puts natural-language vocabulary
  // at ~10^6-10^7 entries regardless of corpus size, the same
  // driver-sized-model contract as the merge table itself and the
  // streaming frozen-model maps.
  // ---------------------------------------------------------------------

  /** One greedy left-to-right non-overlapping merge pass over a symbol
    * array — the array form of `replace(sym, " l  r ", " lr ")` (Java's
    * `replace` continues scanning in ORIGINAL coordinates after a match,
    * so a fused token can never re-match within the same pass).
    * Returns `syms` unchanged (eq) when the pair does not occur.
    */
  private def mergePass(syms: Array[String], l: String, r: String): Array[String] = {
    var i = 0
    var hit = false
    while (!hit && i < syms.length - 1) {
      if (syms(i) == l && syms(i + 1) == r) hit = true else i += 1
    }
    if (!hit) return syms
    val out = Array.newBuilder[String]
    out.sizeHint(syms.length - 1)
    var j = 0
    while (j < i) { out += syms(j); j += 1 }
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        out += l + r; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Apply a trained merge table to one word in memory — the local
    * kernel behind [[encodeByVocab]], exactly [[applyMerges]]'s chain
    * semantics (merges in learn order, each a greedy left-to-right
    * pass). A per-word symbol set short-circuits merges whose components
    * cannot occur, so typical cost is O(merges) hash probes plus a few
    * O(word) passes, independent of corpus size. NOTE deliberately NOT
    * the min-rank-pair loop most tokenizers run: with homograph symbols
    * (two merge paths producing the same string) the two disagree, and
    * this library's contract is the SQL-expressible chain.
    */
  def applyMergesLocal(word: String, merges: Seq[Merge]): Array[String] = {
    var syms: Array[String] = (word + EndOfWord).map(_.toString).toArray
    var present: java.util.HashSet[String] = null
    val it = merges.iterator
    while (it.hasNext && syms.length >= 2) {
      val m = it.next()
      if (present == null || (present.contains(m.left) && present.contains(m.right))) {
        val next = mergePass(syms, m.left, m.right)
        if (next ne syms) {
          syms = next
          present = new java.util.HashSet[String](math.max(8, syms.length * 2))
          var i = 0
          while (i < syms.length) { present.add(syms(i)); i += 1 }
        } else if (present == null) {
          present = new java.util.HashSet[String](math.max(8, syms.length * 2))
          var i = 0
          while (i < syms.length) { present.add(syms(i)); i += 1 }
        }
      }
    }
    syms
  }

  /** Train `numMerges` merges with ONE Spark pass (the word-count
    * aggregation) and an in-memory incremental trainer on the collected
    * vocabulary — bit-identical to [[trainMerges]] (same all-adjacent
    * pair counting, same greedy merge pass, same count-desc /
    * (left,right)-asc tie break; BpeSpec pins equality on fixtures and
    * randomized corpora) without its job-per-merge scheduling, which is
    * what caps the distributed loop at oracle-sized tables. Incremental
    * bookkeeping is the standard trainer's: a pair→count map, a
    * pair→words index so only affected words recount, and a lazy-deletion
    * max-heap (stale entries verified against the live map on pop).
    * Cost: O(corpus) once, then O(affected words · word length + log P)
    * per merge — 32k merges is seconds, not 32k jobs.
    */
  def trainMergesFast(docs: DataFrame, textCol: String, numMerges: Int): Seq[Merge] =
    trainMergesFromCounts(wordCounts(docs, textCol), "w", "cnt", numMerges)

  /** [[trainMergesFast]] from a PRE-AGGREGATED (word, count) frame —
    * the form a pipeline that already materialized its vocabulary
    * (corpus stats, coverage reports) trains from without re-scanning
    * the corpus.
    */
  def trainMergesFromCounts(counts: DataFrame, wordCol: String,
      countCol: String, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val vocab = counts
      .select(col(wordCol).cast("string"), col(countCol).cast("long")).collect()
      .map(row => ((row.getString(0) + EndOfWord).map(_.toString).toArray, row.getLong(1)))
    trainLocal(vocab, numMerges)
  }

  /** The in-memory incremental trainer over a (symbols, count)
    * vocabulary — see [[trainMergesFast]]. Package-visible for the
    * randomized cross-check spec.
    */
  private[scale] def trainLocal(
      vocab: Array[(Array[String], Long)], numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val words: Array[Array[String]] = vocab.map(_._1)
    val counts: Array[Long] = vocab.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def pairsOf(syms: Array[String]): Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
    // max-heap: highest count first, then LOWEST (left, right)
    implicit val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c
          else {
            val l = y._2.compareTo(x._2)
            if (l != 0) l else y._3.compareTo(x._3)
          }
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]
    def bump(p: (String, String), delta: Long): Unit = {
      val next = pairCounts.getOrElse(p, 0L) + delta
      require(next >= 0, s"pair count underflow for $p")
      if (next == 0) pairCounts.remove(p)
      else {
        pairCounts(p) = next
        // lazy deletion: every LIVE count needs its own heap entry —
        // decreases too, else a demoted pair only has stale (higher)
        // entries, all of which pop-verify as dead
        heap.enqueue((next, p._1, p._2))
      }
    }
    words.indices.foreach { w =>
      pairsOf(words(w)).foreach { p =>
        bump(p, counts(w))
        pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += w
      }
    }
    val merges = mutable.ArrayBuffer.empty[Merge]
    var step = 1
    while (step <= numMerges && pairCounts.nonEmpty) {
      // lazy deletion: pop until the top entry matches the live count
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val c = heap.dequeue()
        if (pairCounts.get((c._2, c._3)).contains(c._1)) top = c
      }
      require(top != null, "heap drained while pairCounts nonEmpty")
      val best = (top._2, top._3)
      merges += Merge(step, best._1, best._2, top._1)
      pairWords.remove(best).foreach(_.foreach { w =>
        val before = words(w)
        val after = mergePass(before, best._1, best._2)
        if (after ne before) {
          words(w) = after
          pairsOf(before).foreach { p =>
            bump(p, -counts(w))
            if (p != best) pairWords.get(p).foreach { s =>
              s -= w; if (s.isEmpty) pairWords.remove(p)
            }
          }
          pairsOf(after).foreach { p =>
            bump(p, counts(w))
            pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += w
          }
        }
      })
      step += 1
    }
    merges.toSeq
  }

  /** [[trainMergesFast]] as a frame — [[train]]'s exact schema. */
  def trainFast(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMergesFast(docs, textCol, numMerges)
      .toDF("step", "pair_left", "pair_right", "cnt")
  }

  /** Rehydrate a merge table from a [[train]]-schema frame — the model
    * ARTIFACT round-trip (train once, write the frame to parquet, load
    * it in every serving/encoding job). Sorted by step on the driver so
    * a parquet round-trip's row-order loss cannot scramble learn order;
    * steps must be the exact 1..n sequence (a filtered or truncated
    * table would silently change every later merge's semantics —
    * fail-loud instead).
    */
  def mergesFromFrame(df: DataFrame): Seq[Merge] = {
    val out = df.select(
        col("step").cast("int"), col("pair_left").cast("string"),
        col("pair_right").cast("string"), col("cnt").cast("long"))
      .collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.step).toSeq
    require(out.zipWithIndex.forall { case (m, i) => m.step == i + 1 },
      s"merge table steps must be exactly 1..${out.size} " +
        s"(got ${out.take(5).map(_.step).mkString(",")}...)")
    out
  }

  /** Tokenizer-governance diff of two merge tables — the step-aligned
    * comparison a pretraining shop reviews before re-tokenizing a
    * store after retraining on a new snapshot. One row per step where
    * the tables disagree textually (or one table has ended):
    * (step, a_left, a_right, b_left, b_right, kind) with kind ∈
    * changed / only_a / only_b; identical tables → empty frame.
    * Because merges are a CHAIN, everything at or after the FIRST
    * divergent step — `min(step)` of this frame — is semantically a
    * different tokenizer even where later pairs happen to coincide;
    * the common trusted prefix is `min(step) − 1`. Driver-sized by the
    * merge-table contract (the table IS the model).
    */
  def mergeTableDiff(spark: org.apache.spark.sql.SparkSession,
      a: Seq[Merge], b: Seq[Merge]): DataFrame = {
    import spark.implicits._
    def ordered(t: Seq[Merge], name: String): IndexedSeq[Merge] = {
      val s = t.sortBy(_.step).toIndexedSeq
      require(s.zipWithIndex.forall { case (m, i) => m.step == i + 1 },
        s"merge table '$name' steps must be exactly 1..${s.size}")
      s
    }
    val as = ordered(a, "a"); val bs = ordered(b, "b")
    (1 to math.max(as.size, bs.size)).flatMap { i =>
      (as.lift(i - 1), bs.lift(i - 1)) match {
        case (Some(x), Some(y)) if x.left == y.left && x.right == y.right => None
        case (xo, yo) =>
          val kind = (xo, yo) match {
            case (Some(_), Some(_)) => "changed"
            case (Some(_), None)    => "only_a"
            case _                  => "only_b"
          }
          Some((i, xo.map(_.left).orNull, xo.map(_.right).orNull,
            yo.map(_.left).orNull, yo.map(_.right).orNull, kind))
      }
    }.toDF("step", "a_left", "a_right", "b_left", "b_right", "kind")
  }

  // ---------------------------------------------------------------------
  // Tokenize-once artifact: the word→pieces dimension as a STORE TABLE
  // keyed by merge-table hash. encodeByVocab re-derives the distinct-word
  // piece dim on every call — one vocabulary-sized UDF pass per corpus
  // encode. A pretraining shop re-encodes the same store many times per
  // tokenizer (ablations, packing sweeps, re-shards); the production
  // shape is train-once / dim-once / join-everywhere: later encodes pay
  // only the token-stream join, and the hash key makes serving a dim
  // built by a DIFFERENT merge table a fail-loud error instead of a
  // silent mis-tokenization.
  // ---------------------------------------------------------------------

  /** Deterministic identity of a merge table — md5 over the
    * step-ordered (left, right) sequence (counts excluded: they are
    * training telemetry, not semantics — two tables that merge
    * identically encode identically). The piece-dim store key.
    */
  def mergeTableHash(merges: Seq[Merge]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    merges.sortBy(_.step).foreach { m =>
      md.update(s"${m.step} ${m.left} ${m.right}".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def pieceDimEntity(merges: Seq[Merge]): String =
    s"bpe_pieces_${mergeTableHash(merges)}"

  /** The word→pieces dimension for `docs`' distinct vocabulary under
    * `merges` — encodeByVocab's internal frame as a first-class
    * artifact: (w, pieces). Vocabulary-sized by Heaps' law regardless
    * of corpus size; the one UDF pass lives here, off every later
    * encode's hot path.
    */
  def pieceDim(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val table = merges
    val applyUdf = udf((w: String) => applyMergesLocal(w, table))
    docs.select(explode(TextStats.words(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), applyUdf(col("w")).as("pieces"))
  }

  /** Publish the piece dim into a [[graft.ops.SnapshotStore]] under the
    * merge-table-hash entity key. Returns the published version.
    */
  def writePieceDim(storeDir: String, docs: DataFrame, textCol: String,
      merges: Seq[Merge], retain: Int = 1): Int =
    graft.ops.SnapshotStore.publish(storeDir,
      Seq(pieceDimEntity(merges) -> pieceDim(docs, textCol, merges)), retain)

  /** Resolve the piece dim for EXACTLY this merge table — fails loud
    * when the store has no dim under the table's hash (serving a dim
    * built by different merges would silently re-tokenize the corpus).
    */
  def readPieceDim(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, merges: Seq[Merge]): DataFrame = {
    val entity = pieceDimEntity(merges)
    require(graft.ops.SnapshotStore.exists(storeDir, entity),
      s"no piece dim published for merge-table hash ${mergeTableHash(merges)} " +
        s"in $storeDir — run writePieceDim with this table first")
    graft.ops.SnapshotStore.read(spark, storeDir, entity)
  }

  /** [[encodeByVocab]] against a PREBUILT piece dim: the corpus pays
    * only the token-stream join. Words the dim has never seen (corpus
    * grew since the dim was built) fall back to the local kernel
    * in-row — coalesce short-circuits, so the UDF runs only on the
    * novel-word slice, and output stays bit-identical to
    * [[encodeByVocab]] (spec-pinned). Periodically fold novelties back
    * with [[writePieceDim]] to keep the fallback slice near-empty.
    */
  def encodeWithPieceDim(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge], dim: DataFrame): DataFrame = {
    val table = merges
    val applyUdf = udf((w: String) => applyMergesLocal(w, table))
    docs.select(col(idCol), explode(TextStats.words(col(textCol))).as("w"))
      .join(dim.select(col("w"), col("pieces")), Seq("w"), "left")
      .select(col(idCol),
        explode(coalesce(col("pieces"), applyUdf(col("w")))).as("piece"))
  }

  /** [[encode]] for production-sized merge tables: each DISTINCT word is
    * encoded once by [[applyMergesLocal]] (a vocabulary-sized UDF pass —
    * off the corpus hot path by construction), then the token stream
    * joins back word→pieces. The join is deliberately un-hinted: AQE
    * broadcasts the vocabulary frame while it fits and falls back to a
    * slim (word, pieces) shuffle join beyond that — either way the
    * corpus side is one scan, with no merge-count-dependent codegen.
    * Output rows match [[encode]] as a multiset per (id, word); the
    * within-word piece order is preserved by the explode.
    */
  def encodeByVocab(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val table = merges
    val applyUdf = udf((w: String) => applyMergesLocal(w, table))
    val vocab = docs.select(explode(TextStats.words(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), applyUdf(col("w")).as("pieces"))
    docs.select(col(idCol), explode(TextStats.words(col(textCol))).as("w"))
      .join(vocab, "w")
      .select(col(idCol), explode(col("pieces")).as("piece"))
  }

  /** [[pieceHistogram]] through the vocabulary-memoized local kernel —
    * same output, no merge-count-dependent plan (see [[encodeByVocab]]).
    */
  def pieceHistogramByVocab(docs: DataFrame, textCol: String,
      merges: Seq[Merge], topK: Int): DataFrame =
    pieceHistogramFromCounts(wordCounts(docs, textCol), "w", "cnt", merges, topK)

  /** [[pieceHistogramByVocab]] from a pre-aggregated (word, count)
    * frame — see [[trainMergesFromCounts]].
    */
  def pieceHistogramFromCounts(counts: DataFrame, wordCol: String,
      countCol: String, merges: Seq[Merge], topK: Int): DataFrame = {
    val table = merges
    val applyUdf = udf((w: String) => applyMergesLocal(w, table))
    counts
      .select(col(countCol).cast("long").as("cnt"),
        explode(applyUdf(col(wordCol).cast("string"))).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("n"))
      .orderBy(col("n").desc, col("piece").asc)
      .limit(topK)
  }

  /** Per-document TOKENIZER token counts — the number a training budget
    * is actually denominated in (whitespace counts under-bill long words
    * and OOV text). Memoized like [[encodeByVocab]]: each distinct word
    * is encoded once to its piece COUNT, the corpus-side token stream
    * joins back (AQE-sized) and sums per document. Documents with no
    * `[a-z0-9]+` tokens have no token rows and are absent (count 0 by
    * omission). Output: (idCol, n_tokens) — [[ShardPack.packByTokenBudget]]'s
    * expected input, making BPE-exact shard packing a two-call
    * composition.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val table = merges
    val npUdf = udf((w: String) => applyMergesLocal(w, table).length)
    val vocab = docs.select(explode(TextStats.words(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), npUdf(col("w")).as("np"))
    docs.select(col(idCol), explode(TextStats.words(col(textCol))).as("w"))
      .join(vocab, "w")
      .groupBy(col(idCol)).agg(sum("np").cast("long").as("n_tokens"))
  }

  /** Tokenizer FERTILITY (pieces per word) by domain, integer
    * per-mille — the multilingual-fairness number a tokenizer eval
    * leads with: a vocabulary trained on one domain over-segments the
    * others, inflating their effective training cost per word. Same
    * memoized shape as [[tokenCounts]] (distinct words encode once,
    * corpus-side token stream joins back), aggregated per domain; the
    * ratio is integer `div` so it is bit-stable across engines.
    * Output: (domain, n_words, n_pieces, fertility_permille).
    */
  def fertilityByDomain(docs: DataFrame, domainCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val table = merges
    val npUdf = udf((w: String) => applyMergesLocal(w, table).length)
    val vocab = docs.select(explode(TextStats.words(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), npUdf(col("w")).as("np"))
    docs.select(col(domainCol).as("domain"), explode(TextStats.words(col(textCol))).as("w"))
      .join(vocab, "w")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_words"), sum("np").cast("long").as("n_pieces"))
      .withColumn("fertility_permille", expr("n_pieces * 1000 div n_words"))
  }

  /** [[encodeByVocab]] with MATERIALIZED positions — (idCol, tok_idx,
    * piece), tok_idx the token's 0-based offset within its document
    * (word order × within-word piece order): the coordinate
    * [[ShardPack.materializeSequences]] needs to lay real token
    * streams into fixed-length training sequences. Same memoized shape
    * as [[encodeByVocab]] (each DISTINCT word encodes once, the corpus
    * stream joins back, AQE sizes the join); the within-doc offset is
    * a running sum of piece counts over the doc's word order — a
    * window partitioned by DOCUMENT, so the sequential unit is one
    * doc's words, never the corpus.
    */
  /** The (w, pieces) distinct-word encode frame — the one
    * vocabulary-sized UDF pass every memoized encode shape builds.
    */
  private def wordVocab(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val table = merges
    val applyUdf = udf((w: String) => applyMergesLocal(w, table))
    docs.select(explode(TextStats.words(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), applyUdf(col("w")).as("pieces"))
  }

  private def encodeIndexedWithVocab(docs: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol),
      posexplode(TextStats.words(col(textCol))).as(Seq("wi", "w")))
    val prior = Window.partitionBy(col(idCol)).orderBy(col("wi"))
      .rowsBetween(Window.unboundedPreceding, -1)
    words.join(vocab, "w")
      .withColumn("word_start",
        coalesce(sum(size(col("pieces")).cast("long")).over(prior), lit(0L)))
      .select(col(idCol), col("word_start"),
        posexplode(col("pieces")).as(Seq("pi", "piece")))
      .select(col(idCol), (col("word_start") + col("pi")).as("tok_idx"),
        col("piece"))
  }

  def encodeIndexed(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame =
    encodeIndexedWithVocab(docs, idCol, textCol,
      wordVocab(docs, textCol, merges))

  /** [[encodeIndexed]] with pieces already mapped to [[pieceVocab]]'s
    * lexicographic ids — (idCol, tok_idx, token_id). This is the form
    * the materializers consume (q146/q151/q153), and it is also the
    * EFFICIENT one: one persisted (w, pieces) vocab frame feeds both
    * the corpus join and the piece-id rank, where composing
    * [[encodeIndexed]] with [[pieceVocab]] by hand scans the corpus
    * for distinct words (and runs the encode UDF) twice — measured
    * ~25% of q146's sf0.1 wall. Output is identical to that
    * composition (spec-pinned).
    */
  def encodeIndexedIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wv = graft.ops.CacheScope.persisted(
      wordVocab(docs, textCol, merges))
    val pieceIds = wv.select(explode(col("pieces")).as("piece"))
      .distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("piece"))) - 1).cast("long"))
    encodeIndexedWithVocab(docs, idCol, textCol, wv)
      .join(pieceIds, "piece")
      .select(col(idCol), col("tok_idx"), col("token_id"))
  }

  /** The corpus's piece-id map — (piece, token_id), token_id the dense
    * 0-based LEXICOGRAPHIC rank of the piece: the deterministic,
    * engine-portable vocabulary numbering for the materialized
    * training artifact (a real tokenizer release ships ids with the
    * merge table; rank-by-piece is the reproducible stand-in that
    * needs no side file). The global window runs over the
    * vocabulary-sized distinct-piece frame — bounded by construction,
    * the same size class as the merge-table argmax.
    */
  def pieceVocab(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    wordVocab(docs, textCol, merges)
      .select(explode(col("pieces")).as("piece"))
      .distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("piece"))) - 1).cast("long"))
  }

  /** DECODE — token ids back to the CANONICAL text (the lowercase
    * `[a-z0-9]+` words the house tokenizer kept, single-space joined):
    * pieces concatenate in `tok_idx` order and every [[EndOfWord]]
    * marker becomes the word boundary it encoded — exact because the
    * marker is outside the corpus alphabet and only ever piece-FINAL
    * (merges fuse symbols within one word; the marker stays terminal).
    * The ROUND-TRIP LAW — `decode(encodeIndexedIds(docs), pieceVocab
    * (docs)) == canonical(text)` for every doc with at least one word
    * — is the end-to-end content-conservation gate for the whole
    * encode machinery: merge training can change segmentation, never
    * content (oracle- and spec-pinned). Docs with ZERO words emit no
    * token rows and hence no decode row (the encode omission rule).
    *
    * Scale shape: one vocabulary-sized broadcast-able join + one
    * per-doc agg whose state is the doc's own pieces (reconstructing a
    * document inherently materializes it — the [[graft.scale.TextStats]]
    * text-column size class). No windows, no collects.
    *
    * @param tokenStream (idCol, tok_idx, token_id) —
    *                    [[encodeIndexedIds]]'s frame
    * @param vocab       (piece, token_id) — [[pieceVocab]]'s frame
    * @return (idCol, text)
    */
  def decode(tokenStream: DataFrame, vocab: DataFrame, idCol: String): DataFrame =
    tokenStream
      .join(vocab.select(col("token_id"), col("piece")), Seq("token_id"))
      .groupBy(col(idCol))
      .agg(expr("array_sort(collect_list(struct(tok_idx, piece)))").as("__p"))
      .select(col(idCol),
        trim(expr(s"replace(array_join(transform(__p, s -> s.piece), ''), " +
          s"'$EndOfWord', ' ')")).as("text"))
}
