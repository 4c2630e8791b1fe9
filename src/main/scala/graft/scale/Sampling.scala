package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling: exactly `n` docs per group (fewer
  * iff the group is smaller), selected by md5 order so the same corpus
  * always yields the same sample — the "N docs per language / per
  * source" training-mix primitive.
  *
  * The semantics are `row_number() over (partition by g order by
  * md5(id), id) <= n` — but that window shuffles EVERY group's full
  * membership to a single partition each, and a per-language quota over
  * a 100 TB corpus has group cardinality ~ corpus size: one task gets
  * 30 TB. This instead runs the classic two-pass group-wise top-n, both
  * passes bounded by PARTITION size, never group size:
  *
  *   1. sort each input partition by (g, k, id) and keep the first `n`
  *      rows per group per partition (a partition's top-n for a group
  *      is a superset of that partition's contribution to the global
  *      top-n — pruning is lossless);
  *   2. shuffle the survivors — at most n·P rows per group — by g,
  *      re-sort within partitions, keep the first `n` per group and
  *      emit `sample_rank` (1-based).
  *
  * Both prune passes are single-forward-pass iterator logic over sorted
  * partitions (the sanctioned imperative boundary). Output:
  * (groupCol string, idCol long, sample_rank long).
  */
object Sampling {

  /** Leakage-safe train/val/test split: the split bucket hashes the
    * NEAR-DUP CLUSTER REPRESENTATIVE, not the document id — any two
    * documents connected by a near-dup pair share a representative
    * ([[Dedup.connectedComponents]] min-label) and therefore land in
    * the same split by construction, so eval can never contain a
    * near-copy of a training document (the classic contamination bug a
    * per-document random split invites). Singleton documents (no pair)
    * are their own representative. Deterministic: the bucket is the
    * md5 permille of the representative id, so the same corpus + pair
    * list always yields the same split.
    *
    * Scale shape: cluster formation is the CC operator (size-switched
    * driver union-find / distributed min-label); the assignment itself
    * is one left join against the pair-bounded rep frame plus per-row
    * hashing — the corpus never shuffles on anything but the id join
    * key.
    *
    * @return (idCol, rep, split) with split ∈ {train, val, test}
    */
  def leakageSafeSplit(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      aCol: String,
      bCol: String,
      testPermille: Int = 100,
      valPermille: Int = 100): DataFrame =
    leakageSafeSplitWithReps(
      docs,
      Dedup.connectedComponents(pairs, aCol, bCol).withColumnRenamed("id", idCol),
      idCol, testPermille, valPermille)

  /** [[leakageSafeSplit]] over PRE-COMPUTED cluster representatives
    * (`reps` = (idCol, rep)) — shares one CC pass with other consumers
    * of the same clustering (see [[Curation.pretrainCurate]]).
    */
  def leakageSafeSplitWithReps(
      docs: DataFrame,
      reps: DataFrame,
      idCol: String,
      testPermille: Int = 100,
      valPermille: Int = 100): DataFrame = {
    require(testPermille >= 0 && valPermille >= 0 &&
      testPermille + valPermille <= 1000, "permilles must fit in [0, 1000]")
    docs
      .join(reps, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("rep"), col(idCol)))
      .withColumn(
        "bucket", TextStats.hashBucket(col("rep").cast("string"), 1000))
      .withColumn(
        "split",
        when(col("bucket") < testPermille, "test")
          .when(col("bucket") < testPermille + valPermille, "val")
          .otherwise("train"))
      .select(col(idCol), col("rep"), col("split"))
  }

  def topNPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"sample size must be >= 1, got $n")
    val spark = df.sparkSession
    import spark.implicits._
    val slim = df.select(
      col(groupCol).cast("string").as("g"),
      md5(concat(lit("strat:"), col(idCol).cast("string"))).as("k"),
      col(idCol).cast("long").as("id")).as[(String, String, Long)]

    def firstNPerGroup(it: Iterator[(String, String, Long)]): Iterator[((String, String, Long), Long)] =
      new Iterator[((String, String, Long), Long)] {
        private var curG: String = null
        private var taken = 0L
        private var nextRow: ((String, String, Long), Long) = _
        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && it.hasNext) {
            val r = it.next()
            if (r._1 != curG) { curG = r._1; taken = 0L }
            if (taken < n) { taken += 1; nextRow = (r, taken) }
          }
        }
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): ((String, String, Long), Long) = {
          val out = nextRow; advance(); out
        }
      }

    // pass A sorts the source columns (g, k, id); the mapPartitions
    // re-tuples the schema to _1/_2/_3 for pass B
    val passA = slim
      .sortWithinPartitions("g", "k", "id")
      .mapPartitions(it => firstNPerGroup(it).map(_._1))
    passA
      .repartition(col("_1"))
      .sortWithinPartitions("_1", "_2", "_3")
      .mapPartitions(firstNPerGroup)
      .map { case ((g, _, id), rank) => (g, id, rank) }
      .toDF(groupCol, idCol, "sample_rank")
  }

  /** Integer milli-log2: `1000 * log2(x)` approximated EXACTLY in
    * 64-bit integer arithmetic — `1000 * floor(log2 x)` plus a
    * linearly-interpolated mantissa, `(x * 1000) >> floor(log2 x) -
    * 1000`. Bit-identical in any engine with binary formatting and
    * integer shifts (Spark `bin`/`shiftright`, DuckDB `bin`/`>>`), so
    * log-scored selections can be hash-compared across engines — the
    * same discipline as [[TextStats.bigramSurprisal]]'s `1000*c1 div
    * cb` surrogate, extended to a true log scale. Interpolation error
    * is < 0.09 log2 units per call (max at mantissa ≈ 1/ln2 − 1) and
    * the map is strictly monotone in x.
    *
    * Contract: x ≥ 1 and x ≤ Long.MaxValue/1000 (callers here feed
    * +1-smoothed counts; a 100 TB corpus' token counts sit comfortably
    * under 9.2e15).
    */
  def millilog2(x: Column): Column = {
    val l = (length(bin(x)) - 1).cast("int")
    lit(1000L) * l.cast("long") +
      call_function("shiftright", x * 1000L, l) - 1000L
  }

  /** (id, b) one row per token OCCURRENCE, b = hashed feature bucket —
    * the [[TextStats.words]] token array (the one
    * `StreamingOps.dsirScoreStream` folds per row) hashed to
    * `buckets` via the md5 bucket (oracle form:
    * `('0x' || substr(md5(tok),1,8))::BIGINT % buckets`).
    */
  private def hashedTokenOccurrences(
      docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    docs
      .select(
        col(idCol).as("id"),
        explode(TextStats.words(col(textCol))).as("tok"))
      .select(col("id"), TextStats.hashBucket(col("tok"), buckets).as("b"))

  /** The DSIR model as a SHIPPABLE artifact: one row per feature bucket
    * over the FULL 0..buckets-1 domain (never-seen buckets get the
    * smoothed-floor ratio), with the smoothing-total constant K FOLDED
    * into every entry — so a document's score is a plain
    * `Σ_tokens llr_k(bucket)`, no separate constant to carry. This is
    * the frozen-model hand-off for a streaming ingest gate
    * ([[graft.streaming.StreamingOps.dsirScoreStream]]) or a serve-side
    * scorer; on the training corpus itself it reproduces [[dsirScores]]
    * exactly (spec-pinned law).
    *
    * @return (b, llr_k) — buckets rows, milli-log2 units
    */
  def dsirModelDense(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24), "buckets must fit the md5 bucket space")
    val spark = raw.sparkSession
    val qc = tokenBucketCounts(raw, textCol, buckets, "q")
    val pc = tokenBucketCounts(target, textCol, buckets, "p")
    val k = qc.agg(sum("q").as("qtot")).crossJoin(pc.agg(sum("p").as("ptot")))
      .select((millilog2(coalesce(col("qtot"), lit(0L)) + buckets.toLong) -
        millilog2(coalesce(col("ptot"), lit(0L)) + buckets.toLong)).as("k"))
    spark.range(buckets).select(col("id").as("b"))
      .join(qc, Seq("b"), "left")
      .join(pc, Seq("b"), "left")
      .crossJoin(broadcast(k))
      .select(col("b"),
        (millilog2(coalesce(col("p"), lit(0L)) + 1L) -
          millilog2(coalesce(col("q"), lit(0L)) + 1L) + col("k")).as("llr_k"))
  }

  /** DSIR-style importance scores for targeted data selection (Xie et
    * al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023): score each RAW document by how much
    * more likely its hashed-token bag is under the TARGET domain's
    * unigram feature distribution than under the raw corpus' own —
    * `score(d) = Σ_tokens log p̂_target(b) − log p̂_raw(b)` with +1
    * smoothing, in integer milli-log2 units ([[millilog2]]) so the
    * frame is oracle-exact. High score = looks like the target domain;
    * selection = top-k or seeded Gumbel sampling ([[dsirSelect]]).
    *
    * Scale shape: both corpora collapse to B-sized per-bucket count
    * frames (hash-agg, map-side partials); the per-bucket milli-llr
    * model (B ≤ 2²⁴ rows) broadcasts to the scoring join. The raw
    * occurrence stream folds to (id, b, cnt) BEFORE the shared
    * persist — the cache and every downstream shuffle carry one row
    * per (doc, bucket), bounded by min(doc_tokens, B) per doc, not one
    * per token. The target frame needs no id column (only its text
    * feeds the bucket counts). The smoothing-total constant K rides a
    * broadcast 1-row cross join (the sanctioned stats pattern). Docs
    * with zero tokens emit no row (no bag, no score — same contract as
    * bigramSurprisal).
    *
    * @return (idCol, n_tokens, score_milli)
    */
  def dsirScores(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24), "buckets must fit the md5 bucket space")
    // pre-aggregate the occurrence stream to (id, b, cnt) BEFORE
    // persisting: the cache shrinks from one row per token to one row
    // per (doc, bucket), and both consumers (the bucket-count agg and
    // the scoring join's final groupBy(id)) shuffle the folded frame
    val rocc = graft.ops.CacheScope.persisted(
      hashedTokenOccurrences(raw, idCol, textCol, buckets)
        .groupBy("id", "b").agg(count(lit(1)).as("cnt")))
    val qc = rocc.groupBy("b").agg(sum("cnt").as("q"))
    // target-side counts are id-free by construction — the target
    // corpus never needs an id column (its ids are never used)
    val pc = tokenBucketCounts(target, textCol, buckets, "p")
    // per-bucket milli-log2 likelihood ratio of the +1-smoothed counts;
    // buckets absent from the raw side never get probed (q >= 1 for
    // every scored occurrence by construction), absent target buckets
    // coalesce to p = 0
    val model = qc.join(pc, Seq("b"), "left")
      .select(col("b"),
        (millilog2(coalesce(col("p"), lit(0L)) + 1L) -
          millilog2(col("q") + 1L)).as("llr"))
    // smoothing-denominator constant: each token also contributes
    // log2(Qtot + B) - log2(Ptot + B); totals fold from the
    // bucket-sized count frames, not a second corpus pass
    val k = qc.agg(sum("q").as("qtot")).crossJoin(pc.agg(sum("p").as("ptot")))
      .select((millilog2(coalesce(col("qtot"), lit(0L)) + buckets.toLong) -
        millilog2(coalesce(col("ptot"), lit(0L)) + buckets.toLong)).as("k"))
    rocc
      .join(broadcast(model), Seq("b"))
      .groupBy(col("id"))
      .agg(sum("cnt").as("n_tokens"), sum(col("llr") * col("cnt")).as("s"))
      .crossJoin(broadcast(k))
      .select(col("id").as(idCol), col("n_tokens"),
        (col("s") + col("n_tokens") * col("k")).as("score_milli"))
  }

  /** Per-feature domain-drift contributors — the "what changed between
    * these two corpora" monitor (the KL(P‖Q) decomposition a drift
    * dashboard plots): for every hashed-token bucket, the smoothed
    * probabilities' milli-log2 ratio and its KL contribution
    * `p'_b · log2(p'_b/q'_b)` in integer MICRO-log2 units,
    * `sign(llr) · ((p_b+1) · |llr_milli| · 1000) div (P+B)` —
    * decimal(38,0) cross-multiplied, magnitude-trunc division so Spark
    * and an oracle engine agree on negative contributions (trunc ==
    * floor on the nonneg magnitude). Σ contrib_micro ≈ 1000·KL
    * in milli-log2 (smoothing-floored, so finite even on disjoint
    * vocabularies); the per-bucket rows name the features driving it.
    *
    * Scale shape: both corpora fold to B-sized count frames; everything
    * downstream is bucket-sized arithmetic — corpus size only enters
    * through the two token-stream aggs.
    *
    * @return (b, p_cnt, q_cnt, llr_milli, contrib_micro) — buckets
    *         present in NEITHER corpus are omitted (zero contribution)
    */
  def domainDriftContributors(
      target: DataFrame,
      reference: DataFrame,
      textCol: String,
      buckets: Int = 4096): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24), "buckets must fit the md5 bucket space")
    driftFromBucketCounts(
      tokenBucketCounts(target, textCol, buckets, "p_cnt"),
      tokenBucketCounts(reference, textCol, buckets, "q_cnt"),
      target.sparkSession.range(1).select(lit(buckets.toLong).as("bc")))
  }

  /** (b, `name`) per-feature-bucket token counts — the count frame
    * BOTH drift halves build (the batch monitor's two eras here) and
    * both DSIR models' per-corpus counts. One keyed agg over at most
    * `buckets` groups. Streamable unchanged as the live era's counts
    * (complete mode, state bucket-sized); the StreamingOpsSpec case
    * "driftBucketCountsStream + batch tail == the batch drift monitor
    * at every prefix" pins stream == batch.
    */
  def tokenBucketCounts(
      docs: DataFrame, textCol: String, buckets: Int,
      name: String = "cnt"): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24), "buckets must fit the md5 bucket space")
    docs
      .select(explode(TextStats.words(col(textCol))).as("tok"))
      .select(TextStats.hashBucket(col("tok"), buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as(name))
  }

  /** The drift decomposition's SHARED TAIL over arbitrary bucket-count
    * frames — the feature space is whatever the caller counted: hashed
    * tokens ([[domainDriftContributors]]), coarse-quantizer cells
    * ([[Similarity.embeddingCellDrift]]), classifier score bands, …
    *
    * @param pc     (b, p_cnt) — target-era counts per bucket
    * @param qc     (b, q_cnt) — reference-era counts per bucket
    * @param smooth ONE-ROW frame (bc) — the smoothing bucket count
    *               added to both totals (the feature-space size; a
    *               literal frame for a fixed hash space, a count agg
    *               for a data-derived space like quantizer cells)
    */
  def driftFromBucketCounts(
      pc: DataFrame, qc: DataFrame, smooth: DataFrame): DataFrame = {
    val joined = pc.join(qc, Seq("b"), "full")
      .select(col("b"),
        coalesce(col("p_cnt"), lit(0L)).as("p_cnt"),
        coalesce(col("q_cnt"), lit(0L)).as("q_cnt"))
    val tots = joined.agg(
        sum("p_cnt").as("sp"), sum("q_cnt").as("sq"))
      .crossJoin(broadcast(smooth))
      .select((coalesce(col("sp"), lit(0L)) + col("bc")).as("ps"),
        (coalesce(col("sq"), lit(0L)) + col("bc")).as("qs"))
    val dec = "decimal(38,0)"
    joined
      .crossJoin(broadcast(tots))
      .withColumn("llr_milli",
        (millilog2(col("p_cnt") + 1L) - millilog2(col("ps"))) -
          (millilog2(col("q_cnt") + 1L) - millilog2(col("qs"))))
      .withColumn("contrib_micro",
        (signum(col("llr_milli")).cast("long") *
          floor((col("p_cnt").cast(dec) + 1) * abs(col("llr_milli")).cast(dec) *
            1000 / col("ps").cast(dec)).cast("long")))
      .select("b", "p_cnt", "q_cnt", "llr_milli", "contrib_micro")
  }

  /** The PRODUCTION drift monitor: [[domainDriftContributors]] between
    * the store's live snapshot and the previous retained version of
    * `entity` — "what changed in the corpus since the last ingest",
    * measured against the store's own history via
    * [[graft.ops.SnapshotStore.readAt]] time travel (so the monitor
    * needs no side channel carrying yesterday's corpus: `retain >= 2`
    * on the publish IS the monitor's data contract). Top `topK`
    * feature buckets by |KL contribution| (ties on bucket id),
    * planned as TakeOrdered — never a global sort.
    *
    * Fails loud when fewer than two DISTINCT entity states are
    * retained: a monitor silently comparing a snapshot to itself would
    * report zero drift forever, the worst possible failure mode for an
    * alerting frame. "Distinct" is judged on the ENTITY's manifest
    * pointers, not the store version counter — publishes of other
    * entities sharing the store neither advance nor expire this
    * entity's comparison pair.
    */
  def snapshotDrift(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      entity: String,
      textCol: String,
      buckets: Int = 4096,
      topK: Int = 20): DataFrame = {
    import graft.ops.SnapshotStore
    // Version selection is ENTITY-scoped, not store-scoped: a shared
    // store interleaves publishes of other entities between two
    // publishes of `entity`, and store-level "last two versions" would
    // then compare the entity to ITSELF (zero drift forever — the
    // silent failure mode this monitor exists to refuse). The entity's
    // history is the sequence of retained versions where its manifest
    // pointer set (flat key or bucket keys) actually changed.
    def pointers(v: Int): Map[String, String] =
      SnapshotStore.readManifestAt(storeDir, v).filter { case (k, _) =>
        k == entity || k.startsWith(entity + "/")
      }
    val states = SnapshotStore.retainedVersions(storeDir)
      .map(v => v -> pointers(v))
      .filter(_._2.nonEmpty)
      .foldLeft(Vector.empty[(Int, Map[String, String])]) {
        case (acc, (v, e)) if acc.nonEmpty && acc.last._2 == e => acc
        case (acc, s)                                          => acc :+ s
      }
    require(states.size >= 2,
      s"snapshotDrift: need >= 2 distinct retained versions of '$entity' in " +
        s"$storeDir (publish the entity with retain >= 2; found " +
        s"${states.size} — older states may have expired from the " +
        "retention window)")
    val prev = SnapshotStore.readAt(spark, storeDir, entity, states(states.size - 2)._1)
    val curr = SnapshotStore.readAt(spark, storeDir, entity, states.last._1)
    domainDriftContributors(curr, prev, textCol, buckets)
      .orderBy(abs(col("contrib_micro")).desc, col("b").asc)
      .limit(topK)
  }

  /** Integer milli-pow2 — the EXACT inverse construction of
    * [[millilog2]]: `1000 · 2^(m/1000)` with the same linear mantissa,
    * `2^⌊m/1000⌋ · (1000 + m mod 1000)` (floor-div and nonneg pmod, so
    * negative exponents shift right). Round-trip law (spec-pinned in
    * `DsirAllocSpec`): `|pow2Milli(millilog2(x)) − 1000·x| ≤ x` —
    * within 0.1%. Engine-portable for the same reason millilog2 is
    * (shifts + integer div/mod only).
    *
    * Contract: m ≤ 53 023, enforced fail-loud in-plan — 2^53·1023 is
    * the last mantissa step that fits int64; m = 53 024 would need
    * 2^53·1024 = 2^63, which silently wraps negative (NOT the naive
    * "result < 2^63 ⇒ fine" bound of 62 000: the mantissa multiplies
    * the shifted power BEFORE the comparison). Results for deeply
    * negative m truncate toward 0 (min useful ≈ −10 000).
    */
  def pow2Milli(m: Column): Column = {
    val f = pmod(m, lit(1000L))
    val i = ((m - f) / 1000L).cast("int")
    val guard = coalesce(
      assert_true(m <= 53023L,
        concat(lit("pow2Milli: m exceeds the int64 domain (max 53023), got "),
          m.cast("string"))).cast("long"),
      lit(0L))
    when(i >= 0, call_function("shiftleft", lit(1L), i) * (lit(1000L) + f))
      .otherwise(call_function("shiftright", lit(1000L) + f, -i)) + guard
  }

  /** DoReMi-style loss-aware mixture weights (Xie et al., "DoReMi",
    * NeurIPS 2023, simplified to its reweighting rule): domains with
    * EXCESS loss over the best domain get exponentially more mixture
    * weight, `w_i ∝ 2^(excess_i / τ)` — here loss arrives in milli-log2
    * units (e.g. [[millilog2]] of a per-domain surprisal), excess is
    * `loss_i − min_j loss_j`, and the weight is the integer
    * [[pow2Milli]]`(excess · 1000 div tauMilli)`. The best domain
    * always weighs exactly 1000; a domain τ milli-log2 worse weighs
    * 2000. Output feeds [[tokenBudgetAllocate]] directly.
    *
    * Scale shape: input is the per-domain loss frame (tiny); the min
    * folds through a broadcast 1-row cross join.
    *
    * @return (domainCol, loss_milli, excess_milli, weight)
    */
  def lossAwareWeights(
      domainLoss: DataFrame,
      domainCol: String,
      lossCol: String,
      tauMilli: Long = 1000L): DataFrame = {
    require(tauMilli >= 1, s"tauMilli must be >= 1, got $tauMilli")
    // stage-cache the domain-sized loss frame: it feeds BOTH the min
    // agg and the main branch, and its upstream is typically a
    // corpus-sized loss computation that must not run twice
    val lossF = graft.ops.CacheScope.persisted(
      domainLoss.select(col(domainCol), col(lossCol).cast("long").as("loss_milli")))
    val best = lossF.agg(min(col("loss_milli")).as("best"))
    lossF
      .crossJoin(broadcast(best))
      .withColumn("excess_milli", col("loss_milli") - col("best"))
      .withColumn("weight", pow2Milli(expr(s"excess_milli * 1000 div $tauMilli")))
      .select(col(domainCol), col("loss_milli"), col("excess_milli"), col("weight"))
  }

  /** DoReMi's actual loop (Xie et al., NeurIPS 2023, Algorithm 1's
    * Group-DRO weight dynamics): R rounds of the multiplicative update
    * `w_t,i ∝ w_{t-1,i} · 2^(excess_i / τ)` with per-round
    * renormalization to Σ = 10⁶ ppm, and the paper's published output —
    * the STEP-AVERAGED mixture `w̄_i = (Σ_t w_t,i) / R` — alongside the
    * final-round weights. [[lossAwareWeights]] is the one-shot
    * reweighting rule; this is what a data-mixture team actually runs:
    * the average damps the exponential concentration (with static
    * reference losses the final round piles onto the worst-excess
    * domain geometrically; the average keeps every round's mixture in
    * the blend, the paper's variance-reduction device).
    *
    * All integer: the update cross-multiplies in decimal(38,0)
    * (w ≤ 10⁶ times a pow2Milli multiplier — never near the 38-digit
    * rail), normalization floor-divides (Σ w_t may undershoot 10⁶ by
    * < #domains ppm per round). Laws (spec-pinned): equal losses stay
    * uniform every round; `rounds = 1` reproduces the one-shot rule
    * normalized (`w_i = 10⁶·pow2(m_i) div Σ pow2(m_j)`); the
    * max-excess domain's weight is non-decreasing round over round.
    *
    * Scale shape: the input is the per-domain loss frame (tiny); each
    * round adds one 1-row normalization agg riding a broadcast cross
    * join — R single-partition stages over domain-count-sized frames
    * by contract. `rounds ≤ 16` keeps the unrolled plan shallow (a
    * longer horizon would want graft.ops.Rounds' round loop).
    *
    * @return (domainCol, loss_milli, excess_milli, w_final_ppm, w_avg_ppm)
    */
  def doremiWeights(
      domainLoss: DataFrame,
      domainCol: String,
      lossCol: String,
      tauMilli: Long = 1000L,
      rounds: Int = 4): DataFrame = {
    require(tauMilli >= 1, s"tauMilli must be >= 1, got $tauMilli")
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1, 16] (unrolled plan), got $rounds")
    val dec = "decimal(38,0)"
    // stage-cache the domain frame: WITHOUT it every round's 1-row
    // normalization agg re-executes the corpus-sized loss upstream —
    // measured at sf0.1 as q138 costing 3x q137 over the same loss
    // chain (7.3 s vs 2.4 s) before the cache
    val lossF = graft.ops.CacheScope.persisted(
      domainLoss.select(col(domainCol), col(lossCol).cast("long").as("loss_milli")))
    val best = lossF.agg(min(col("loss_milli")).as("best"))
    var cur = lossF
      .crossJoin(broadcast(best))
      .withColumn("excess_milli", col("loss_milli") - col("best"))
      .withColumn("mult", pow2Milli(expr(s"excess_milli * 1000 div $tauMilli")))
      .drop("best")
      .withColumn("w", lit(1000000L))
      .withColumn("w_sum", lit(0L))
    (1 to rounds).foreach { _ =>
      // raw stays decimal(38,0) end-to-end: w ≤ 10⁶ times a pow2Milli
      // multiplier can reach ~9e21, past int64 — a long here would
      // silently wrap at the tau/excess domain edge. Dividing the exact
      // decimal product by 1000 has ≤3 fraction digits, so the scale-6
      // decimal quotient is EXACT and floor is the true floor.
      val raw = cur.withColumn("raw",
        floor(col("w").cast(dec) * col("mult").cast(dec) / 1000).cast(dec))
      val tot = raw.agg(sum("raw").cast(dec).as("tot"))
      // normalization via integral `div` on the decimal product —
      // Spark's IntegralDivide on decimals is divideToIntegralValue
      // (exact), matching the oracle's HUGEINT `//`: a rounded scale-6
      // quotient within 5e-7 below an integer would floor UP here.
      cur = raw
        .crossJoin(broadcast(tot))
        .withColumn("w",
          expr("cast(raw * 1000000 as decimal(38,0)) div tot"))
        .withColumn("w_sum", col("w_sum") + col("w"))
        .drop("raw", "tot")
    }
    cur.select(col(domainCol), col("loss_milli"), col("excess_milli"),
      col("w").as("w_final_ppm"), expr(s"w_sum div $rounds").as("w_avg_ppm"))
  }

  /** Seeded integer Gumbel noise in milli-log2 units: `u =
    * (md5-bucket(id) + 1)/10⁶` uniform, noise = `−log2(−log2 u)`
    * via two [[millilog2]] folds. Adding it to a milli-log2 weight and
    * taking the top-k IS Gumbel-top-k sampling (the exponential-races
    * argmax `w_i/E_i` is base-invariant), discretized to the same
    * integer grid as the scores and reproducible across engines and
    * runs. The inner value clamps at 1 milli (u = 10⁶ exactly would
    * take log2 of 0).
    */
  def gumbelMilli(id: Column): Column = {
    val uPpm = TextStats.hashBucket(
      concat(lit("gumbel:"), id.cast("string")), 1000000) + 1L
    val negLog2U = greatest(
      millilog2(lit(1000000L)) - millilog2(uPpm), lit(1L))
    millilog2(lit(1000L)) - millilog2(negLog2U)
  }

  /** Select `k` raw documents toward the target domain: deterministic
    * top-k by DSIR score (`gumbel = false`, the paper's "top-k
    * heuristic" baseline) or seeded Gumbel-top-k importance sampling
    * (`gumbel = true`, the paper's sampler made reproducible via
    * [[gumbelMilli]]). Ties break on ascending id. Returns the
    * selected (idCol, n_tokens, score_milli, sel_milli) where
    * sel_milli is the ranking key (score + noise when sampling).
    *
    * Scale shape: `orderBy.limit(k)` plans as TakeOrdered — each
    * partition keeps its local top-k, the driver merges k·P heads; k
    * is a training-budget-sized constant (≪ corpus), the selection
    * never global-sorts the corpus.
    */
  def dsirSelect(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 4096,
      k: Int = 1000,
      gumbel: Boolean = false): DataFrame = {
    require(k >= 1, s"selection size must be >= 1, got $k")
    val key =
      if (gumbel) col("score_milli") + gumbelMilli(col(idCol))
      else col("score_milli")
    dsirScores(raw, target, idCol, textCol, buckets)
      .withColumn("sel_milli", key)
      .orderBy(col("sel_milli").desc, col(idCol).asc)
      .limit(k)
  }

  /** Data-constrained token-budget allocation (Muennighoff et al.,
    * "Scaling Data-Constrained Language Models", NeurIPS 2023): split
    * a training-token budget across domains proportionally to mixture
    * `weight`s, but cap every domain at `tokens * maxEpochsMilli/1000`
    * (repeating data beyond a few epochs stops helping), and
    * re-distribute what the capped domains can't absorb among the
    * uncapped ones — exact water-filling, solved in CLOSED FORM:
    * sorted by cap/weight ascending, the saturated set is a prefix,
    * found with window prefix sums; no iteration, no collect. All
    * arithmetic is integer (the saturation predicate cross-multiplies
    * in decimal(38,0) so 100 TB token counts cannot overflow); the
    * uncapped shares use floor division, so Σ alloc may undershoot the
    * budget by < #domains tokens (documented remainder policy).
    *
    * Input `domains` is the per-domain frame (domainCol, tokensCol =
    * unique tokens available, weightCol = integer mixture share, e.g.
    * milli). Contract: tokens ≥ 1 and weight ≥ 1 on every row
    * (enforced fail-loud in-plan), budget · max(weight) and cap ·
    * Σweight within decimal(38,0) — always true for integer-milli
    * weights.
    *
    * Scale shape: the input is the post-aggregation domain frame
    * (domain-count-sized, tiny); the windows run unpartitioned over it
    * by design — a deliberate 1-row-contract single-partition stage,
    * like the global stats frames. The corpus-sized work (token
    * counting per domain) happens upstream in the caller's groupBy.
    *
    * @return (domainCol, tokens, weight, cap, alloc, epochs_milli),
    *         epochs_milli = alloc·1000 div tokens (how many times the
    *         domain's data is repeated, in milli-epochs)
    */
  def tokenBudgetAllocate(
      domains: DataFrame,
      domainCol: String,
      tokensCol: String,
      weightCol: String,
      budgetTokens: Long,
      maxEpochsMilli: Long): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0, got $budgetTokens")
    require(maxEpochsMilli >= 1, s"maxEpochsMilli must be >= 1, got $maxEpochsMilli")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val ordered = Window.orderBy(col("ord"), col(domainCol))
    val prefix = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val prefixIncl = ordered.rowsBetween(Window.unboundedPreceding, 0)
    val whole = ordered.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    domains
      .select(
        col(domainCol),
        // guard FIRST: codegen's null-short-circuit would skip a
        // right-hand guard when the tokens cast is null
        (coalesce(
          assert_true(
            col(tokensCol) >= 1 && col(weightCol) >= 1,
            concat(lit("tokenBudgetAllocate: tokens and weight must be >= 1, got ("),
              col(tokensCol), lit(", "), col(weightCol), lit(") for domain "),
              col(domainCol))).cast("long"),
          lit(0L)) + col(tokensCol).cast("long")).as("tokens"),
        col(weightCol).cast("long").as("weight"))
      .withColumn("cap", expr(s"tokens * $maxEpochsMilli div 1000"))
      // stage-cache the domain frame: it feeds the rank self-join's
      // BOTH sides and the window chain, and its upstream is typically
      // a corpus-sized token count that must not run three times
      .transform(df => graft.ops.CacheScope.persisted(df))
      // sort key: the EXACT cap/weight rank — cross-multiplied
      // decimal(38,0) comparison against every other domain (ties
      // broken by domain name), so two ratios that collide or cross
      // under IEEE double rounding (real at 100 TB token counts, where
      // cap exceeds 2^53) can never sort out of true ratio order; a
      // broadcast nested-loop over the domain-count-sized frame, by
      // the same tiny-frame contract as the windows below
      .transform { base =>
        val peers = broadcast(base.select(
          col(domainCol).as("__d2"), col("cap").as("__cap2"),
          col("weight").as("__w2")))
        val lhs = col("__cap2").cast(dec) * col("weight").cast(dec)
        val rhs = col("cap").cast(dec) * col("__w2").cast(dec)
        base.join(peers, lhs < rhs || (lhs === rhs && col("__d2") < col(domainCol)), "left")
          .groupBy(col(domainCol), col("tokens"), col("weight"), col("cap"))
          .agg(count(col("__d2")).as("ord"))
      }
      .withColumn("cap_pre", coalesce(sum("cap").over(prefix), lit(0L)))
      .withColumn("w_rem",
        sum("weight").over(whole) - coalesce(sum("weight").over(prefix), lit(0L)))
      // saturated ⇔ fair share of the remaining budget covers the cap:
      // cap · w_rem ≤ (budget − cap_pre) · weight, exact integers
      .withColumn("sat_raw",
        (col("cap").cast(dec) * col("w_rem").cast(dec)) <=
          ((lit(budgetTokens).cast(dec) - col("cap_pre").cast(dec)) *
            col("weight").cast(dec)))
      // water-filling theory makes sat_raw a prefix in cap/weight
      // order; the running min enforces it outright so integer/tie
      // edge cases stay deterministic
      .withColumn("sat",
        min(col("sat_raw").cast("int")).over(prefixIncl) === 1)
      .withColumn("sat_cap",
        coalesce(sum(when(col("sat"), col("cap"))).over(whole), lit(0L)))
      .withColumn("w_unsat",
        coalesce(sum(when(!col("sat"), col("weight"))).over(whole), lit(0L)))
      .withColumn("alloc",
        when(col("sat"), col("cap")).otherwise(
          floor((lit(budgetTokens).cast(dec) - col("sat_cap").cast(dec)) *
            col("weight").cast(dec) / col("w_unsat").cast(dec))
            .cast("long")))
      .withColumn("epochs_milli", expr("alloc * 1000 div tokens"))
      .select(col(domainCol), col("tokens"), col("weight"), col("cap"),
        col("alloc"), col("epochs_milli"))
  }
}
