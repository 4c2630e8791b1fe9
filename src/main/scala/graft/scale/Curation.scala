package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.CacheScope

/** End-to-end training-corpus curation — the composite the individual
  * operators exist FOR, as one call: quality gate → exact dedup →
  * benchmark decontamination → deterministic token-budget shard
  * packing. Output is the curated corpus as (id, n_tokens, shard): the
  * exact file layout a pretraining export writes.
  *
  * Stage shapes (each individually driver-gated by its own query; the
  * composite is gated end-to-end by q87 against a composed oracle):
  *
  *   1. quality gate — `n_tokens >= minTokens` as a scan-side filter
  *      (codegen'd, pushdown-friendly; the C4 [[TextStats.policyFilter]]
  *      slots in here for corpora with line structure);
  *   2. exact dedup — keep each digest group's min-id doc: one
  *      map-side-combined agg + one semi-join, both keyed on the
  *      16-byte md5 digest (the q16 operator); at 100 TB both sides
  *      shuffle slim digest rows, never text;
  *   3. decontamination — [[Dedup.decontaminate]] (benchmark grams
  *      broadcast; swap in [[Dedup.decontaminateBloom]] when the
  *      benchmark outgrows broadcast), then an anti-join on id;
  *   4. shard packing — [[ShardPack.packByTokenBudget]]'s two-phase
  *      prefix sum over the survivors.
  *
  * The dedup survivors feed two consumers (the gram probe and the
  * anti-join), so the slim survivor frame is CacheScope-persisted; at
  * export scale the alternative is a second corpus scan — either works,
  * the persist just trades disk for scan time on the common case.
  */
object Curation {

  // Stage frames that feed several consumers are re-rooted with
  // CacheScope.cut, which bounds every downstream plan at one cache
  // layer: nested persists made each action walk the whole chain of
  // cached plans once per path (the r13 plan walk; see
  // graft.ops.Rounds). Its costs are accepted for SLIM frames only: one
  // InternalRow→Row conversion per row at cache build (bare longs
  // here), an eager `.rdd` (this pipeline is construction-eager anyway —
  // ShardPack's prefix-sum pass), and no filter pushdown below the cut
  // (consumers semi-join the whole frame, so nothing is lost).

  def curate(
      docs: DataFrame,
      holdout: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int = 20,
      contamGramN: Int = 4,
      shardBudget: Long = 2000L): DataFrame = {
    val filt = docs
      .select(col(idCol), col(textCol), TextStats.tokenCount(col(textCol)).as("n_tokens"))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("text_hash", md5(col(textCol).cast("binary")))
    val keepers = filt
      .groupBy("text_hash").agg(min(col(idCol)).as(idCol))
    val ded = CacheScope.persisted(
      filt.join(keepers, Seq("text_hash", idCol), "left_semi"))
    val contaminated = Dedup
      .decontaminate(ded, holdout, idCol, textCol, contamGramN)
      .select(idCol)
    val clean = ded.join(contaminated, Seq(idCol), "left_anti")
    ShardPack.packByTokenBudget(clean, idCol, "n_tokens", shardBudget)
  }

  /** [[pretrainCurate]]'s result frames: the packed train sequences
    * (one row per sequence COPY — the mixture replicates), the K7-style
    * per-stage run counters, and the STORE frames a later
    * [[pretrainCurateIncrement]] consumes — the surviving chunks
    * (chunk_id, chunk_text, group; feed to [[Dedup.minhashSignatures]]
    * for the persistent index) and their split assignments
    * (chunk_id, rep, split).
    */
  final case class PretrainResult(
      sequences: DataFrame,
      counters: DataFrame,
      gatedChunks: DataFrame,
      splits: DataFrame)

  /** The FULL pretraining curation pipeline — the round-11 operator
    * family composed as one call, sequence-level (each document splits
    * into model-ready token windows and every later stage works on
    * chunks, the production shape):
    *
    *   1. chunk — [[TextStats.chunkByTokens]] (window/stride, scan-pure,
    *      doc attributes carried row-for-row); chunk ids pack as
    *      `doc_id * chunkIdSpan + chunk_idx` with an in-plan fail-loud
    *      guard on the span;
    *   2. near-dup dedup — [[Dedup.minhashPairsExact]] at
    *      `dedupThreshold` restricted to CROSS-document pairs
    *      (within-doc window overlap is deliberate stride overlap, not
    *      duplication), then priority-aware canonical selection
    *      ([[Dedup.dedupByClusterPriorityWithReps]]: keep the
    *      curated-source copy);
    *   3. decontaminate — [[Dedup.decontaminate]] against the holdout's
    *      `contamGramN`-gram set, anti-join;
    *   4. quality gate — [[TextStats.bigramSurprisal]] trained on the
    *      surviving chunks themselves; keep chunks at or below the
    *      corpus `surpKeepQuantile` of avg_surp (a QUANTILE, not an
    *      absolute ceiling: surprisal magnitudes are corpus-relative —
    *      the 100× century smoke caught the absolute-threshold version
    *      gating out an ENTIRE staged corpus whose tag tokens shifted
    *      the whole distribution; an optional `maxAvgSurp` ceiling
    *      composes on top). Chunks too short to score drop —
    *      unscoreable is ungateable. The quantile itself follows the
    *      [[TextStats.corpusStats]] exact-vs-approx trade: the DEFAULT
    *      is `approx_percentile` (Greenwald–Khanna sketch — aggregation
    *      state bounded by `approxQuantileAccuracy`, NOT by the number
    *      of distinct surprisal values, so the 1-row final merge task
    *      holds a fixed-size sketch at any corpus size); pass
    *      `approxQuantileAccuracy = 0` for the oracle-exact interpolated
    *      `percentile`, whose value→count buffer grows with distinct
    *      avg_surp values (worst case one per chunk) and lands in a
    *      single task — fine at test SF, not the 100 TB plan. The two
    *      cutoffs can disagree only within one sketch-error rank band,
    *      so the gates differ only on chunks whose avg_surp lies
    *      BETWEEN the two cutoffs (`PretrainCurateSpec` pins exactly
    *      this tolerance contract);
    *   5. temperature mix — [[TextStats.temperatureMixAtResolution]]
    *      (√n domain weights at ppm resolution — the century-proof rate
    *      grid) replicates each chunk into epoch copies toward
    *      `budgetSeqs`;
    *   6. leakage-safe split — [[Sampling.leakageSafeSplitWithReps]] on
    *      the SAME near-dup clustering as stage 2 (one CC pass feeds
    *      both consumers), so eval can never hold a near-copy of a
    *      train sequence;
    *   7. shard pack — [[ShardPack.packByTokenBudget]] over the train
    *      split's copies (two-phase distributed prefix sum).
    *
    * Scale: every stage is the individually driver-gated operator in its
    * documented 100 TB shape; the composite adds only slim id-keyed
    * joins between stages (chunk-id semi/anti-joins, never text
    * shuffles beyond what the stages themselves do). The multi-consumer
    * frames (chunks, pairs, the gated survivors) are CacheScope-persisted.
    *
    * Determinism: every stage is hash-draw deterministic (md5 buckets,
    * min-id representatives, integer rate arithmetic), so reruns over
    * the same input produce bit-identical frames — `PretrainCurateSpec`
    * pins rerun equality and partitioning invariance end-to-end.
    *
    * @param docs     (idCol, textCol, priorityCol, groupCol) — the
    *                 training corpus; priority: smaller = preferred
    *                 survivor; group: mixture domain (language/source)
    * @param holdout  benchmark/eval documents (idCol, textCol shape)
    * @param tokenizerMerges non-empty = denominate the shard-pack
    *                 budget in trained-BPE token counts ([[Bpe]] model
    *                 artifact) instead of the chunker's whitespace
    *                 counts; only the pack-stage counts change
    * @return packed train sequences
    *         (chunk_id, idCol, chunk_idx, groupCol, n_tokens, shard) —
    *         one row per epoch copy — plus per-stage counters
    *         (stage, n)
    */
  def pretrainCurate(
      docs: DataFrame,
      holdout: DataFrame,
      idCol: String,
      textCol: String,
      priorityCol: String,
      groupCol: String,
      window: Int = 32,
      stride: Int = 16,
      chunkIdSpan: Long = 65536L,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      dedupThreshold: Double = 0.6,
      contamGramN: Int = 4,
      surpKeepQuantile: Double = 0.9,
      approxQuantileAccuracy: Int = 10000,
      maxAvgSurp: Long = Long.MaxValue,
      budgetSeqs: Long = 400L,
      mixResolution: Long = 1000000L,
      testPermille: Int = 100,
      valPermille: Int = 100,
      shardTokenBudget: Long = 2000L,
      tokenizerMerges: Seq[Bpe.Merge] = Nil): PretrainResult = {
    require(chunkIdSpan >= 2, s"chunkIdSpan must be >= 2, got $chunkIdSpan")
    // 1. chunk; the guards are IN-PLAN (assert_true folds to null and
    // the coalesce keeps the arithmetic long-typed) so a doc that would
    // alias a packed chunk_id fails loud at first action: chunk_idx must
    // fit the span, and doc_id must be nonnegative and small enough that
    // doc_id * chunkIdSpan cannot overflow a Long (a negative or
    // overflowed id would silently corrupt the cross-doc pair filter,
    // the dedup, and the split)
    val maxDocId = Long.MaxValue / chunkIdSpan
    // CUT, not just persisted: chunks fans out into the pair builder
    // plus every stage's semi-join re-widen — each reference would
    // re-analyze the chunker tree (the r17 fan-out plan-blowup rule)
    val chunks = CacheScope.cut(
      TextStats.chunkByTokens(
        docs, idCol, textCol, window, stride, carryCols = Seq(priorityCol, groupCol))
        .withColumn("chunk_id",
          col(idCol).cast("long") * chunkIdSpan + col("chunk_idx") +
            coalesce(
              assert_true(
                col("chunk_idx") < chunkIdSpan &&
                  col(idCol).cast("long").between(0L, maxDocId - 1),
                lit(s"chunk_id packing out of range: need 0 <= $idCol < " +
                  s"$maxDocId and chunk_idx < chunkIdSpan=$chunkIdSpan — " +
                  "renumber ids or raise the span"))
                .cast("long"),
              lit(0L))))
    // 2. near-dup pairs at the duplication threshold, cross-doc only
    // plain persisted (NOT cut): pairs has ONE consumer (the CC pass) —
    // a cut would pay the Row round-trip for zero analysis dedup
    val pairs = CacheScope.persisted(
      Dedup.minhashPairsExact(
        chunks.select(col("chunk_id"), col("chunk_text")),
        "chunk_id", "chunk_text", shingleSize, numHashes, bands, dedupThreshold)
        .filter(
          expr(s"id_a div ${chunkIdSpan}L") =!= expr(s"id_b div ${chunkIdSpan}L")))
    val reps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "chunk_id")
    // STAGE-ID CACHES: each filtering stage narrows to a persisted
    // chunk_id-only frame and downstream re-widens by semi-join against
    // the chunks cache. The slim caches sit IN-LINEAGE (under gated's
    // cache), so they fill during the pipeline's one construction
    // materialization for the cost of caching bare longs — and the
    // counters frame then reads them instead of re-running CC, the
    // priority aggs, and the decontamination gram join per counter
    // (the r12 shape re-traversed those subtrees up to 10×; persisting
    // the full text-bearing stage frames instead was MEASURED slower —
    // cache-materializing chunk text costs more than recomputing slim
    // joins. `Dataset.observe` was prototyped for this and rejected:
    // ShardPack's construction-time RDD collect fires the observation
    // listener with zeroed metrics — first-action-wins poisons every
    // downstream read — and once the caches are warm the observed nodes
    // under them never re-execute, so a later counting action reads
    // nothing.)
    val dedIds = CacheScope.cut(
      Dedup.dedupByClusterPriorityWithReps(chunks, reps, "chunk_id", priorityCol)
        .select("chunk_id"))
    val ded = chunks.join(dedIds, Seq("chunk_id"), "left_semi")
    // 3. decontaminate (holdout renamed to the chunk shape — only its
    // gram set matters)
    val cleanIds = CacheScope.cut(
      ded.join(
        Dedup.decontaminate(
          ded,
          holdout.select(col(idCol).as("chunk_id"), col(textCol).as("chunk_text")),
          "chunk_id", "chunk_text", contamGramN)
          .select("chunk_id"),
        Seq("chunk_id"), "left_anti")
        .select("chunk_id"))
    val clean = chunks.join(cleanIds, Seq("chunk_id"), "left_semi")
    // 4. surprisal quality gate (model trained on the survivors): the
    // cutoff is the corpus quantile — one 1-row agg broadcast back (the
    // sanctioned scalar crossJoin), so the gate self-calibrates to any
    // corpus's surprisal scale. Default approx (bounded sketch state);
    // accuracy <= 0 selects the exact interpolated percentile the
    // DuckDB quantile_cont oracle mirrors — see the scaladoc trade.
    require(surpKeepQuantile > 0 && surpKeepQuantile <= 1,
      s"surpKeepQuantile must be in (0, 1], got $surpKeepQuantile")
    // CacheScope.cut (r20): scored feeds the cutoff agg AND the gate's
    // filter side — uncached, the model-build + scoring joins under
    // bigramSurprisal ran twice per gate (the explode itself was already
    // shared through bi's persist; measured 4.1 s for the gate stage at
    // sf0.1, about half of it the second pass). Slim (id + 3 longs) rows.
    val scored = CacheScope.cut(
      TextStats.bigramSurprisal(clean, "chunk_id", "chunk_text"))
    val cutExpr =
      if (approxQuantileAccuracy > 0)
        expr(s"approx_percentile(avg_surp, ${surpKeepQuantile}D, " +
          s"$approxQuantileAccuracy)").cast("double")
      else expr(s"percentile(avg_surp, ${surpKeepQuantile}D)")
    val cutoff = scored.agg(cutExpr.as("surp_cut"))
    // the gated cache drops chunk_text and priority: nothing downstream
    // reads them (the mix wants ids+group, the pack wants token counts,
    // the output joins want lineage columns), and text dominates the
    // cache footprint at corpus scale
    val gated = CacheScope.cut(
      clean.join(
        scored.crossJoin(broadcast(cutoff))
          .filter(col("avg_surp") <= col("surp_cut") &&
            col("avg_surp") <= maxAvgSurp)
          .select("chunk_id"),
        Seq("chunk_id"), "left_semi")
        .select(col("chunk_id"), col(idCol), col("chunk_idx"), col(groupCol),
          col("n_tokens")))
    // 5. epoch mixture (ppm resolution) — slim (id, group, rate, copy)
    // rows, persisted in-lineage like the stage-id caches: the mix and
    // split tails are all small stages whose recompute cost is pure
    // stage-scheduling overhead, which the counter re-reads would pay
    // twice more per counter (measured: 3.8 s mixed + 5.8 s trainSeq
    // cold at sf0.1 — the bulk of the old q118-minus-q115 gap)
    val mixed = CacheScope.cut(TextStats.temperatureMixAtResolution(
      gated, "chunk_id", groupCol, budgetSeqs, mixResolution))
    // 6. leakage-safe split on the SAME clustering as the dedup
    val split = Sampling.leakageSafeSplitWithReps(
      gated.select("chunk_id"), reps, "chunk_id", testPermille, valPermille)
    val trainSeq = CacheScope.cut(mixed.join(
      split.filter(col("split") === "train").select("chunk_id"),
      Seq("chunk_id"), "left_semi"))
    // 7. shard-pack the train copies. Budgets are denominated in the
    // chunker's whitespace counts by default; a TRAINED tokenizer merge
    // table ([[Bpe]] — the model artifact a production run already has)
    // switches packing to exact tokenizer token counts, the unit the
    // training budget is actually billed in. The swap touches ONLY the
    // pack-stage counts (chunk boundaries, dedup, gate, mixture and
    // split are unchanged); chunks with no tokenizer tokens pack at 0.
    val packCounts =
      if (tokenizerMerges.isEmpty) gated.select(col("chunk_id"), col("n_tokens"))
      else gated.select(col("chunk_id"))
        .join(
          Bpe.tokenCounts(
            chunks.join(gated.select("chunk_id"), Seq("chunk_id"), "left_semi")
              .select(col("chunk_id"), col("chunk_text")),
            "chunk_id", "chunk_text", tokenizerMerges),
          Seq("chunk_id"), "left")
        .select(col("chunk_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val packed = ShardPack.packByTokenBudget(
      trainSeq.select("chunk_id").join(packCounts, Seq("chunk_id")),
      "chunk_id", "n_tokens", shardTokenBudget)
    val sequences = packed.join(
      gated.select(col("chunk_id"), col(idCol), col("chunk_idx"), col(groupCol)),
      Seq("chunk_id"))
      .select(col("chunk_id"), col(idCol), col("chunk_idx"), col(groupCol),
        col("n_tokens"), col("shard"))
    // K7 counters: every stage count reads its slim persisted frame
    // (dedIds/cleanIds/gated) or a cache-rooted tail — one pipeline
    // materialization fills them all, and the counter aggregations are
    // cache scans instead of stage re-runs
    def cnt(stage: String, df: DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n"))
        .select(lit(stage).as("stage"), col("n"))
    val counters = Seq(
      cnt("docs_in", docs),
      cnt("chunks", chunks),
      cnt("near_dup_pairs", pairs),
      cnt("chunks_dedup", dedIds),
      cnt("chunks_clean", cleanIds),
      cnt("chunks_gated", gated),
      cnt("sequences_mixed", mixed),
      cnt("train_sequences", trainSeq),
      cnt("packed_sequences", sequences),
      cnt("shards", packed.select("shard").distinct()))
      .reduce(_.unionByName(_))
    // store hand-off: the surviving chunks in the schema
    // pretrainCurateIncrement's storeChunks parameter takes
    val gatedChunks = chunks
      .join(gated.select("chunk_id"), Seq("chunk_id"), "left_semi")
      .select(col("chunk_id"), col("chunk_text"), col(groupCol))
    PretrainResult(sequences, counters, gatedChunks, split)
  }

  /** [[pretrainCurateIncrement]]'s result frames: the packed NEW train
    * sequences (appendable to the store's shards — see `shardOffset`),
    * the per-stage counters, the surviving new chunks in the store's
    * own schema (what the caller appends to the store, and feeds to
    * [[Dedup.minhashSignatures]] to extend the signature index), and
    * their split assignments.
    */
  final case class IncrementResult(
      sequences: DataFrame,
      counters: DataFrame,
      gatedChunks: DataFrame,
      splits: DataFrame,
      shingleSize: Int,
      numHashes: Int)

  /** The STORE-UPDATE contract — how an increment's results fold back
    * into the curated store BETWEEN increments (the seam between two
    * [[pretrainCurateIncrement]] calls):
    *
    *   1. chunks: append `gatedChunks` (already in the store schema);
    *   2. signature index: EXTEND with [[Dedup.minhashSignatures]] of
    *      exactly those chunks — with the SAME shingle/hash parameters
    *      as the index being extended (a mismatch would silently blind
    *      the next increment's incumbent filter, so the parameters are
    *      read off the [[IncrementResult]] the increment itself
    *      recorded, not re-accepted from the caller's memory);
    *   3. splits: append the increment's assignments (disjoint from
    *      the store's by construction — an incumbent-filtered batch
    *      never re-assigns an existing chunk);
    *   4. shard offset (caller-owned driver scalar): advance by the
    *      increment's `max(shard) + 1` so appended files never
    *      collide.
    *
    * Returns the next call's (storeChunks, storeSigs, storeSplits).
    * Production persists all three (the signature frame IS the index
    * artifact); the two-hop lifecycle is pinned in
    * `PretrainCurateSpec`.
    */
  def foldIncrement(
      storeChunks: DataFrame,
      storeSigs: DataFrame,
      storeSplits: DataFrame,
      inc: IncrementResult): (DataFrame, DataFrame, DataFrame) = {
    val newSigs = Dedup.minhashSignatures(
      inc.gatedChunks.select(col("chunk_id"), col("chunk_text")),
      "chunk_id", "chunk_text", inc.shingleSize, inc.numHashes)
    (storeChunks.unionByName(inc.gatedChunks),
      storeSigs.unionByName(newSigs),
      storeSplits.unionByName(inc.splits))
  }

  /** INCREMENTAL [[pretrainCurate]] — curate a NEW document batch
    * against an EXISTING curated store (the daily-ingest shape: the
    * store never reprocesses; the batch pays only batch-vs-batch and
    * batch-vs-index work). The reference's CDC ethos (§2.6 diff-sync:
    * never rebuild what a delta can extend) applied to the LLM
    * pipeline:
    *
    *   1. chunk the batch ([[TextStats.chunkByTokens]], same packed
    *      chunk-id scheme — doc ids MUST be globally unique across
    *      batches and the store, or chunk ids alias: same in-plan
    *      fail-loud guard);
    *   2. batch-internal near-dup dedup (cross-doc pairs → one CC pass
    *      → priority-aware canonical selection), exactly the base
    *      pipeline's stage 2;
    *   3. INCUMBENT FILTER — [[Dedup.nearDupAgainstSignatures]] probes
    *      the store's signature index (band-bucket equi-join, capped
    *      buckets, exact-Jaccard verify): a new chunk that near-dups
    *      ANY store chunk is dropped regardless of priority — the
    *      store copy always wins, so re-ingesting yesterday's corpus
    *      is a no-op (idempotence, pinned in `PretrainCurateSpec`).
    *      The index carries hashes only; candidate verification
    *      re-shingles just the LSH-bounded candidate chunks on both
    *      sides. At 100 TB the batch never joins the store's text —
    *      only its slim signature frame;
    *   4. decontaminate + batch-local surprisal quantile gate (the
    *      gate self-calibrates on the batch: surprisal magnitudes are
    *      corpus-relative, and the store's scale may have drifted);
    *   5. MIXTURE REBALANCE — [[TextStats.temperatureMixRebalance]]:
    *      √n domain scores over the COMBINED store+batch populations,
    *      replication rates over the batch alone, so the appended
    *      copies move the overall mixture toward the target instead of
    *      re-mixing the batch in isolation;
    *   6. leakage-safe split over the batch clustering. SPLIT
    *      STABILITY: a chunk's split is `md5(cluster-rep)` permille —
    *      a pure function of ids — so re-runs never move a chunk
    *      across splits, and a batch chunk near-dupping a STORE chunk
    *      was already dropped in stage 3 (at the same threshold the
    *      split clustering uses), so eval can never gain a near-copy
    *      of anything the store trains on;
    *   7. shard-pack the new train copies at `shardOffset` (pass the
    *      store's next free shard id so appended files never collide).
    *
    * @param storeChunks the store's surviving chunks:
    *                    (chunk_id, chunk_text, groupCol) — text is
    *                    required only for candidate verification and
    *                    only LSH-bounded candidates are ever fetched
    * @param storeSigs   prebuilt [[Dedup.minhashSignatures]] frame of
    *                    `storeChunks` (the persisted index the
    *                    production path maintains); None builds it
    *                    in-job from the store text (convenience form)
    */
  def pretrainCurateIncrement(
      newDocs: DataFrame,
      holdout: DataFrame,
      storeChunks: DataFrame,
      idCol: String,
      textCol: String,
      priorityCol: String,
      groupCol: String,
      storeSigs: Option[DataFrame] = None,
      window: Int = 32,
      stride: Int = 16,
      chunkIdSpan: Long = 65536L,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      dedupThreshold: Double = 0.6,
      maxBucket: Int = 1000,
      contamGramN: Int = 4,
      surpKeepQuantile: Double = 0.9,
      approxQuantileAccuracy: Int = 10000,
      maxAvgSurp: Long = Long.MaxValue,
      budgetSeqs: Long = 400L,
      mixResolution: Long = 1000000L,
      testPermille: Int = 100,
      valPermille: Int = 100,
      shardTokenBudget: Long = 2000L,
      shardOffset: Long = 0L,
      tokenizerMerges: Seq[Bpe.Merge] = Nil): IncrementResult = {
    require(chunkIdSpan >= 2, s"chunkIdSpan must be >= 2, got $chunkIdSpan")
    require(shardOffset >= 0, s"shardOffset must be >= 0, got $shardOffset")
    val maxDocId = Long.MaxValue / chunkIdSpan
    // 1. chunk the batch (same guards as the base pipeline)
    // CUT, not just persisted: chunks fans out into the pair builder
    // plus every stage's semi-join re-widen — each reference would
    // re-analyze the chunker tree (the r17 fan-out plan-blowup rule)
    val chunks = CacheScope.cut(
      TextStats.chunkByTokens(
        newDocs, idCol, textCol, window, stride, carryCols = Seq(priorityCol, groupCol))
        .withColumn("chunk_id",
          col(idCol).cast("long") * chunkIdSpan + col("chunk_idx") +
            coalesce(
              assert_true(
                col("chunk_idx") < chunkIdSpan &&
                  col(idCol).cast("long").between(0L, maxDocId - 1),
                lit(s"chunk_id packing out of range: need 0 <= $idCol < " +
                  s"$maxDocId and chunk_idx < chunkIdSpan=$chunkIdSpan — " +
                  "renumber ids or raise the span"))
                .cast("long"),
              lit(0L))))
    // 2. batch-internal near-dup dedup (cross-doc only)
    // plain persisted (NOT cut): pairs has ONE consumer (the CC pass) —
    // a cut would pay the Row round-trip for zero analysis dedup
    val pairs = CacheScope.persisted(
      Dedup.minhashPairsExact(
        chunks.select(col("chunk_id"), col("chunk_text")),
        "chunk_id", "chunk_text", shingleSize, numHashes, bands, dedupThreshold)
        .filter(
          expr(s"id_a div ${chunkIdSpan}L") =!= expr(s"id_b div ${chunkIdSpan}L")))
    val reps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "chunk_id")
    val dedIds = CacheScope.cut(
      Dedup.dedupByClusterPriorityWithReps(chunks, reps, "chunk_id", priorityCol)
        .select("chunk_id"))
    val ded = chunks.join(dedIds, Seq("chunk_id"), "left_semi")
    // 3. incumbent filter against the store index: survivors are the
    // deduped batch chunks with no verified near-dup in the store
    val storeAsDocs = storeChunks.select(
      col("chunk_id"), col("chunk_text"))
    val sigStore = storeSigs.getOrElse(
      Dedup.minhashSignatures(storeAsDocs, "chunk_id", "chunk_text",
        shingleSize, numHashes))
    val dedAsDocs = ded.select(col("chunk_id"), col("chunk_text"))
    val incIds = CacheScope.cut(
      Dedup.nearDupAgainstSignatures(
        dedAsDocs, storeAsDocs,
        Dedup.minhashSignatures(dedAsDocs, "chunk_id", "chunk_text",
          shingleSize, numHashes),
        sigStore,
        "chunk_id", "chunk_text", shingleSize, numHashes, bands,
        dedupThreshold, maxBucket)
        .select("chunk_id"))
    val inc = chunks.join(incIds, Seq("chunk_id"), "left_semi")
    // 4. decontaminate + batch-local quantile gate (base stages 3-4)
    val cleanIds = CacheScope.cut(
      inc.join(
        Dedup.decontaminate(
          inc,
          holdout.select(col(idCol).as("chunk_id"), col(textCol).as("chunk_text")),
          "chunk_id", "chunk_text", contamGramN)
          .select("chunk_id"),
        Seq("chunk_id"), "left_anti")
        .select("chunk_id"))
    val clean = chunks.join(cleanIds, Seq("chunk_id"), "left_semi")
    require(surpKeepQuantile > 0 && surpKeepQuantile <= 1,
      s"surpKeepQuantile must be in (0, 1], got $surpKeepQuantile")
    // CacheScope.cut (r20): same double-consumer shape as the base
    // pipeline's gate — see pretrainCurate
    val scored = CacheScope.cut(
      TextStats.bigramSurprisal(clean, "chunk_id", "chunk_text"))
    val cutExpr =
      if (approxQuantileAccuracy > 0)
        expr(s"approx_percentile(avg_surp, ${surpKeepQuantile}D, " +
          s"$approxQuantileAccuracy)").cast("double")
      else expr(s"percentile(avg_surp, ${surpKeepQuantile}D)")
    val cutoff = scored.agg(cutExpr.as("surp_cut"))
    val gated = CacheScope.cut(
      clean.join(
        scored.crossJoin(broadcast(cutoff))
          .filter(col("avg_surp") <= col("surp_cut") &&
            col("avg_surp") <= maxAvgSurp)
          .select("chunk_id"),
        Seq("chunk_id"), "left_semi")
        .select(col("chunk_id"), col(idCol), col("chunk_idx"), col(groupCol),
          col("n_tokens")))
    // 5. mixture rebalance over combined store+batch domain populations
    val storeSizes = storeChunks.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_base"))
    val mixed = CacheScope.cut(TextStats.temperatureMixRebalance(
      gated, "chunk_id", groupCol, storeSizes, budgetSeqs, mixResolution))
    // 6. leakage-safe split on the batch clustering
    val split = Sampling.leakageSafeSplitWithReps(
      gated.select("chunk_id"), reps, "chunk_id", testPermille, valPermille)
    val trainSeq = CacheScope.cut(mixed.join(
      split.filter(col("split") === "train").select("chunk_id"),
      Seq("chunk_id"), "left_semi"))
    // 7. shard-pack at the caller's offset; like the base pipeline,
    // a trained merge table re-denominates ONLY the pack counts
    val packCounts =
      if (tokenizerMerges.isEmpty) gated.select(col("chunk_id"), col("n_tokens"))
      else gated.select(col("chunk_id"))
        .join(
          Bpe.tokenCounts(
            chunks.join(gated.select("chunk_id"), Seq("chunk_id"), "left_semi")
              .select(col("chunk_id"), col("chunk_text")),
            "chunk_id", "chunk_text", tokenizerMerges),
          Seq("chunk_id"), "left")
        .select(col("chunk_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val packed = ShardPack.packByTokenBudget(
      trainSeq.select("chunk_id").join(packCounts, Seq("chunk_id")),
      "chunk_id", "n_tokens", shardTokenBudget)
      .withColumn("shard", col("shard") + shardOffset)
    val sequences = packed.join(
      gated.select(col("chunk_id"), col(idCol), col("chunk_idx"), col(groupCol)),
      Seq("chunk_id"))
      .select(col("chunk_id"), col(idCol), col("chunk_idx"), col(groupCol),
        col("n_tokens"), col("shard"))
    def cnt(stage: String, df: DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n"))
        .select(lit(stage).as("stage"), col("n"))
    val counters = Seq(
      cnt("docs_in", newDocs),
      cnt("chunks", chunks),
      cnt("near_dup_pairs", pairs),
      cnt("chunks_dedup", dedIds),
      cnt("chunks_vs_store", incIds),
      cnt("chunks_clean", cleanIds),
      cnt("chunks_gated", gated),
      cnt("sequences_mixed", mixed),
      cnt("train_sequences", trainSeq),
      cnt("packed_sequences", sequences),
      cnt("shards", packed.select("shard").distinct()))
      .reduce(_.unionByName(_))
    val gatedChunks = chunks
      .join(gated.select("chunk_id"), Seq("chunk_id"), "left_semi")
      .select(col("chunk_id"), col("chunk_text"), col(groupCol))
    IncrementResult(sequences, counters, gatedChunks, split, shingleSize, numHashes)
  }
}
