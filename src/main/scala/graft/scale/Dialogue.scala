package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SFT / dialogue data assembly from an interaction log — the
  * post-training counterpart of the pretraining curation family. A
  * fine-tuning pipeline receives raw interaction events and must (1)
  * cut them into dialogues (gap-based sessionization — inactivity ends
  * a conversation), and (2) enforce the CHAT-TEMPLATE INVARIANT every
  * SFT formatter assumes before rendering: within a dialogue,
  * consecutive turns alternate roles (a run of same-role turns breaks
  * user/assistant pairing and silently corrupts loss masking).
  * Violations are REPORTED per dialogue, not silently dropped or
  * auto-merged — the curation team decides the repair policy (merge
  * consecutive same-role turns, drop the dialogue, …); an engine that
  * guessed would hide exactly the data bug this frame exists to
  * surface.
  *
  * Scale shape: everything is keyed windows partitioned by the session
  * key (then key+session) — per-user event history is the partition
  * unit, never the corpus; the stats fold is one hash agg. The
  * streaming twin of the sessionizer is
  * [[graft.streaming.StreamingOps.sessionize]] (flatMapGroupsWithState
  * with watermark closing); this batch form matches q49's semantics.
  */
object Dialogue {

  /** Gap-based sessionization as a library op (the q49 semantics):
    * events more than `gapNanos` apart start a new session per key.
    * Appends `session_seq` (1-based per key, in (ts, id) order —
    * `idCol` breaks timestamp ties deterministically). `tsCol` is the
    * long-nanos timestamp convention of the `t()` read boundary.
    */
  def sessionize(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      gapNanos: Long): DataFrame = {
    require(gapNanos > 0, s"gapNanos must be positive, got $gapNanos")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev_ts").isNull ||
          col(tsCol) - col("__prev_ts") > lit(gapNanos), 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(w))
      .drop("__prev_ts", "__new_session")
  }

  /** Per-dialogue QC frame: turn count, distinct roles, alternation
    * violations (consecutive turns with the SAME role — each such
    * adjacency counts once), and the validity verdict. One row per
    * (key, session).
    *
    * @return (keyCol, session_seq, n_turns, n_roles,
    *         n_alternation_violations, valid_dialogue)
    */
  def dialogueStats(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      gapNanos: Long): DataFrame = {
    val sess = sessionize(events, keyCol, tsCol, idCol, gapNanos)
    val w = Window.partitionBy(col(keyCol), col("session_seq"))
      .orderBy(col(tsCol), col(idCol))
    sess
      .withColumn("__prev_role", lag(col(roleCol), 1).over(w))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(
        count(lit(1)).as("n_turns"),
        countDistinct(col(roleCol)).as("n_roles"),
        sum(when(col("__prev_role") === col(roleCol), 1L).otherwise(0L))
          .as("n_alternation_violations"))
      .withColumn("valid_dialogue", col("n_alternation_violations") === 0L)
  }

  /** Repair policy 1 of 2 — MERGE CONSECUTIVE SAME-ROLE TURNS: each
    * run of adjacent same-role turns within a dialogue collapses to ONE
    * turn carrying the run's anchor (first event's ts/id), the role,
    * the member count, and the members' content joined in (ts, id)
    * order. The standard fix for a logging layer that splits one
    * message into several events; [[dialogueStats]] on the result
    * reports zero violations by construction (policy law,
    * spec-pinned). PURE: the input is never mutated, dialogues that
    * already alternate pass through with n_merged = 1 everywhere
    * (identity law). The complementary policy is
    * [[dropInvalidDialogues]]; the QC frame reports, the curation team
    * picks.
    *
    * Scale shape: [[sessionize]]'s keyed windows plus one hash agg per
    * run; the collect_list is run-sized (a single logging burst), never
    * dialogue- or corpus-sized in any adversarial way a gap bound
    * doesn't already cap.
    *
    * @return (keyCol, session_seq, turn_seq [1-based run index], roleCol,
    *         tsCol, idCol [the run anchor's], n_merged, contentCol)
    */
  def mergeConsecutiveSameRole(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      contentCol: String,
      gapNanos: Long): DataFrame = {
    val sess = sessionize(events, keyCol, tsCol, idCol, gapNanos)
    val w = Window.partitionBy(col(keyCol), col("session_seq"))
      .orderBy(col(tsCol), col(idCol))
    sess
      .withColumn("__prev_role", lag(col(roleCol), 1).over(w))
      .withColumn("__new_run",
        when(col("__prev_role").isNull ||
          col("__prev_role") =!= col(roleCol), 1L).otherwise(0L))
      .withColumn("turn_seq", sum(col("__new_run")).over(w))
      .groupBy(col(keyCol), col("session_seq"), col("turn_seq"))
      .agg(
        min(col(roleCol)).as(roleCol), // constant within a run
        min(col(tsCol)).as(tsCol),
        // the anchor's id: only the run-opening row carries a non-null
        min(when(col("__new_run") === 1L, col(idCol))).as(idCol),
        count(lit(1)).as("n_merged"),
        // typed column API, not expr() interpolation: caller column
        // names needing backticks (dots, spaces, reserved words) would
        // break the SQL parse or bind to the wrong column
        array_join(
          transform(
            array_sort(collect_list(struct(
              col(tsCol).as("t"), col(idCol).as("i"), col(contentCol).as("c")))),
            s => s.getField("c")),
          " ").as(contentCol))
      .select(col(keyCol), col("session_seq"), col("turn_seq"), col(roleCol),
        col(tsCol), col(idCol), col("n_merged"), col(contentCol))
  }

  /** Repair policy 2 of 2 — DROP INVALID DIALOGUES: keep only the
    * events of dialogues [[dialogueStats]] marks valid (zero
    * alternation violations). The conservative fix when merged content
    * would be worse than no sample. PURE and idempotent; the survivors
    * carry their session_seq. One left-semi join against the
    * dialogue-count-sized QC frame.
    */
  def dropInvalidDialogues(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      gapNanos: Long): DataFrame = {
    val valid = dialogueStats(events, keyCol, tsCol, idCol, roleCol, gapNanos)
      .filter(col("valid_dialogue"))
      .select(col(keyCol), col("session_seq"))
    sessionize(events, keyCol, tsCol, idCol, gapNanos)
      .join(valid, Seq(keyCol, "session_seq"), "left_semi")
  }

  /** The WITHIN-DIALOGUE indexed masked token stream an SFT export
    * materializes: every turn's content BPE-encodes with the given
    * (doc-trained) merge table, tokens index densely 0..n−1 within the
    * DIALOGUE (turn (ts, id) order × within-turn piece order), ids come
    * from [[graft.scale.Bpe.pieceVocab]] over the turn content, and
    * each token carries its turn's loss mask (1 when the role is in
    * `maskRoles` — the turns the trainer computes loss on). Feed to
    * [[graft.scale.ShardPack.materializeSequencesWithMask]] keyed by
    * dlgCol for the final (token_ids, mask) training sequences (q151).
    *
    * Scale shape: the encode is [[Bpe.encodeIndexed]]'s memoized vocab
    * join with turns as docs; the dialogue offset is ONE per-dialogue
    * window over turn token counts (the [[lossMaskSpans]] shape).
    *
    * @return (dlgCol, tok_idx, token_id, mask)
    */
  def sftTokenStream(
      turns: DataFrame,
      dlgCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      contentCol: String,
      merges: Seq[Bpe.Merge],
      maskRoles: Set[String],
      requireNonEmptyDialogues: Boolean = false): DataFrame = {
    require(maskRoles.nonEmpty,
      "sftTokenStream: empty maskRoles would train on nothing — a " +
        "formatter emitting an all-zero mask is the silent-failure class")
    // LINEAGE-CUT: the encoded turn stream feeds the per-turn count agg
    // and the final offset join (plus the guard branch's second nPer
    // reference) — without a cache the whole encode chain (vocab join +
    // id rank + per-turn window) runs twice (measured +14% on q151),
    // and without the CUT each reference re-analyzes it (the r17
    // fan-out plan-blowup measurement). Slim long rows, the q56 size
    // class.
    val enc = graft.ops.CacheScope.cut(
      Bpe.encodeIndexedIds(
        turns.select(col(idCol), col(contentCol)), idCol, contentCol, merges)
        .withColumnRenamed("tok_idx", "turn_tok_idx"))
    val nPer = enc.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(dlgCol)).orderBy(col(tsCol), col(idCol))
    val turnStarts = turns
      .join(nPer, Seq(idCol), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
      .withColumn("turn_start",
        coalesce(sum(col("__n"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(idCol), col(dlgCol), col("turn_start"),
        when(col(roleCol).isin(maskRoles.toSeq: _*), 1L).otherwise(0L).as("mask"))
    val joined = enc.join(turnStarts, Seq(idCol))
      .select(col(dlgCol),
        (col("turn_start") + col("turn_tok_idx")).as("tok_idx"),
        col("token_id"), col("mask"))
    if (!requireNonEmptyDialogues) joined
    else {
      // the guard is a UNION BRANCH, not a column on the join: a guard
      // column anywhere in the enc⋈turnStarts subtree is skippable —
      // when enc is EMPTY (every dialogue tokenizes to zero tokens, the
      // exact case guarded) AQE's empty-relation propagation replans
      // the inner join to an empty relation WITHOUT executing the
      // turnStarts stage, so a per-row assert there never evaluates and
      // the stream silently empties. A union child always executes: the
      // branch re-aggregates the caller's `turns` frame (one
      // dialogue-count-sized hash agg against the persisted encode's
      // nPer — callers with an expensive unpersisted turns frame pay
      // one extra scan of it) and emits one asserting row per
      // zero-token dialogue — zero rows, hence a no-op union, whenever
      // the law holds.
      val guard = turns
        .join(nPer, Seq(idCol), "left")
        .groupBy(col(dlgCol))
        .agg(sum(coalesce(col("__n"), lit(0L))).as("__tot"))
        .filter(col("__tot") <= 0L)
        .select(col(dlgCol),
          coalesce(
            assert_true(lit(false),
              lit("sftTokenStream: a dialogue's turns tokenize to zero " +
                "tokens — it would silently vanish from the stream " +
                "(requireNonEmptyDialogues)")).cast("long"),
            lit(0L)).as("tok_idx"),
          lit(0L).as("token_id"), lit(0L).as("mask"))
      joined.unionByName(guard)
    }
  }

  /** SFT CURATION end-to-end — the fine-tuning mirror of
    * [[graft.scale.Curation.pretrainCurate]], raw interaction log to
    * trainer-ready masked sequences in ONE call:
    *
    *   1. sessionize + DROP structurally-invalid dialogues (the
    *      [[dropInvalidDialogues]] policy — alternation violations are
    *      an upstream logging bug, not trainable data);
    *   2. DECONTAMINATE: a dialogue with ANY turn sharing a whitespace
    *      `contamGramN`-gram with the `holdout` benchmark prompts is
    *      dropped WHOLE — eval leakage is dialogue-level (the rest of
    *      the conversation reveals the held-out prompt's context);
    *      [[graft.scale.Dedup.decontaminate]]'s broadcast-gram shape;
    *   3. pack each surviving dialogue id fail-loud (key·dlgSpan +
    *      session_seq, the chunk-id packing contract);
    *   4. [[sftTokenStream]] ∘
    *      [[graft.scale.ShardPack.materializeSequencesWithMask]] — the
    *      q151 artifact over exactly the surviving dialogues.
    *
    * The piece vocabulary is built from the SURVIVING turns only (ids
    * must not encode dropped content — a vocabulary leaking benchmark
    * tokens is the subtle form of the leak step 2 removes).
    *
    * `holdout` must carry the same (idCol, contentCol) column names.
    *
    * @return [[graft.scale.ShardPack.materializeSequencesWithMask]]'s
    *         frame: (bin, n_tokens, n_docs, n_doc_starts, token_ids,
    *         mask)
    */
  def sftCurate(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      contentCol: String,
      holdout: DataFrame,
      merges: Seq[Bpe.Merge],
      maskRoles: Set[String],
      gapNanos: Long,
      seqLen: Long,
      contamGramN: Int = 3,
      dlgSpan: Long = 100000L): DataFrame = {
    require(dlgSpan >= 2, s"dlgSpan must be >= 2, got $dlgSpan")
    // CUT: the validated frame fans out three ways (the decontaminate
    // probe, the contaminated-dialogue semi-join, the clean anti-join) —
    // without it the sessionize + QC window chain re-executes and
    // re-analyzes per reference (the r17 fan-out rule)
    val valid = graft.ops.CacheScope.cut(
      dropInvalidDialogues(events, keyCol, tsCol, idCol, roleCol, gapNanos))
    val contamTurns = Dedup.decontaminate(
      valid.select(col(idCol), col(contentCol)),
      holdout, idCol, contentCol, contamGramN)
      .select(col(idCol))
    val contamDlgs = valid.join(contamTurns, Seq(idCol), "left_semi")
      .select(col(keyCol), col("session_seq")).distinct()
    val clean = valid.join(contamDlgs, Seq(keyCol, "session_seq"), "left_anti")
    val maxKey = Long.MaxValue / dlgSpan
    // guard FIRST: Spark's codegen for +/* short-circuits the right
    // operand when the left is null, so a null key cast would SKIP a
    // right-hand guard and emit a null dlg_id silently
    val turns = clean.withColumn("dlg_id",
      coalesce(
        assert_true(col("session_seq") < dlgSpan &&
          col(keyCol).cast("long").between(0L, maxKey - 1),
          lit(s"dlg_id packing out of range: need 0 <= $keyCol < " +
            s"$maxKey and session_seq < dlgSpan=$dlgSpan")).cast("long"),
        lit(0L)) +
        col(keyCol).cast("long") * dlgSpan + col("session_seq"))
    val stream = sftTokenStream(
      turns, "dlg_id", tsCol, idCol, roleCol, contentCol, merges, maskRoles)
    ShardPack.materializeSequencesWithMask(stream, "dlg_id", "mask", seqLen)
  }

  /** The K7-style stage report for [[sftCurate]] — how many dialogues
    * entered, how many each gate dropped, how many survived. THE
    * fail-loud companion: a curation run whose output is empty (the
    * benchmark slice can legitimately cover the whole prompt space —
    * observed at the 100× staging) reads as "zero survivors because
    * 100% contaminated" here instead of as a silently-empty frame.
    * Dialogue-count-sized throughout (the QC and contamination frames
    * persist once and feed all four counts).
    *
    * @return (stage, n): dialogues_total / dialogues_invalid /
    *         dialogues_contaminated_valid / dialogues_kept
    */
  def sftCurateCounters(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      contentCol: String,
      holdout: DataFrame,
      gapNanos: Long,
      contamGramN: Int = 3): DataFrame = {
    val stats = graft.ops.CacheScope.persisted(
      dialogueStats(events, keyCol, tsCol, idCol, roleCol, gapNanos)
        .select(col(keyCol), col("session_seq"), col("valid_dialogue")))
    val sess = sessionize(events, keyCol, tsCol, idCol, gapNanos)
    val contamDlgs = graft.ops.CacheScope.persisted(
      sess.join(
        Dedup.decontaminate(
          sess.select(col(idCol), col(contentCol)),
          holdout, idCol, contentCol, contamGramN)
          .select(col(idCol)),
        Seq(idCol), "left_semi")
        .select(col(keyCol), col("session_seq")).distinct())
    val valid = stats.filter(col("valid_dialogue"))
    def cnt(stage: String, df: DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n"))
        .select(lit(stage).as("stage"), col("n"))
    cnt("dialogues_total", stats)
      .unionByName(cnt("dialogues_invalid", stats.filter(!col("valid_dialogue"))))
      .unionByName(cnt("dialogues_contaminated_valid",
        valid.join(contamDlgs, Seq(keyCol, "session_seq"), "left_semi")))
      .unionByName(cnt("dialogues_kept",
        valid.join(contamDlgs, Seq(keyCol, "session_seq"), "left_anti")))
  }

  /** The shared fail-loud signal gate of the preference/feedback
    * family: drop null signals (no signal = no evidence), and for
    * FLOATING signal columns refuse NaN loud BEFORE any consumer —
    * each consumer names its own silent consequence (NaN orders above
    * every real for min/max and ranks, and compares false against any
    * threshold). The guard rides the signal column itself (guard
    * FIRST, the codegen null-short-circuit rule) so every surviving
    * row evaluates it.
    */
  private[graft] def signalGated(
      responses: DataFrame,
      signalCol: String,
      opName: String,
      consequence: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val sigType = responses.schema(signalCol).dataType
    val floating = sigType match {
      case DoubleType | FloatType => true
      case _ => false
    }
    if (!floating) responses.filter(col(signalCol).isNotNull)
    else responses.filter(col(signalCol).isNotNull)
      .withColumn(signalCol, coalesce(
        assert_true(!isnan(col(signalCol)),
          lit(s"$opName: NaN signal — $consequence; fix the grader " +
            "upstream")).cast(sigType),
        lit(0).cast(sigType)) + col(signalCol))
  }

  /** PREFERENCE-PAIR ASSEMBLY — the DPO/RLHF data shape: from a graded
    * response log (one row per candidate response: prompt key,
    * candidate id, content, preference signal), build one (chosen,
    * rejected) pair per prompt. Chosen is the candidate maximizing
    * (signal, id) lexicographically, rejected the one minimizing it —
    * the id tiebreak makes the pair a pure function of the log (max
    * signal ties resolve to the LARGEST id, min ties to the SMALLEST).
    * A pair exists only when chosen's signal STRICTLY exceeds
    * rejected's: a prompt whose candidates all share one signal carries
    * no preference evidence, and a single-candidate prompt has nothing
    * to contrast — both emit no row rather than a degenerate pair.
    * Null-signal candidates are excluded up front (no signal = no
    * evidence), so they can neither win nor lose a pair.
    *
    * Best-vs-worst (not all-pairs) is the assembly policy: it is the
    * highest-margin pair per prompt, the standard DPO reduction, and
    * the only one whose cost is one hash agg with O(1) per-group state
    * (struct min/max — no collect_list of the candidate set, so a
    * viral prompt with millions of graded candidates costs the same
    * state as one with three). All-pairs would be |candidates|² rows
    * per prompt — the all-pairs shape this library bans everywhere.
    *
    * Streamable unchanged in complete mode: per-prompt state is the two
    * running struct candidates and a count, though content-sized and
    * growing with prompt cardinality (the evicting form is
    * `StreamingOps.preferencePairsFinalStream`). The StreamingOpsSpec
    * case "preferencePairsStream == batch preferencePairs at every
    * micro-batch prefix" pins stream == batch.
    *
    * @return (promptCol, n_candidates, chosen_id, chosen_signal,
    *         chosen_content, rejected_id, rejected_signal,
    *         rejected_content, margin) — margin = chosen − rejected
    *         signal
    */
  def preferencePairs(
      responses: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String): DataFrame = {
    val side = (ord: Column) => struct(
      ord.as("s"), col(candCol).as("i"), col(contentCol).as("c"))
    // NaN fails loud BEFORE assembly: Spark (and DuckDB) order NaN
    // above every real, so an unguarded NaN signal would always be
    // crowned chosen with a NaN margin — silent poison, and
    // inconsistent with [[groupAdvantages]]' refusal of the same input
    signalGated(responses, signalCol, "preferencePairs",
      "a NaN would always win the pair")
      .groupBy(col(promptCol))
      .agg(
        count(lit(1)).as("n_candidates"),
        max(side(col(signalCol))).as("__ch"),
        min(side(col(signalCol))).as("__rj"))
      .filter(col("__ch.s") > col("__rj.s"))
      .select(col(promptCol), col("n_candidates"),
        col("__ch.i").as("chosen_id"), col("__ch.s").as("chosen_signal"),
        col("__ch.c").as("chosen_content"),
        col("__rj.i").as("rejected_id"), col("__rj.s").as("rejected_signal"),
        col("__rj.c").as("rejected_content"),
        (col("__ch.s") - col("__rj.s")).as("margin"))
  }

  /** [[preferencePairs]] with the q155 curation gates applied at PAIR
    * level — the preference mirror of [[sftCurate]]'s dialogue-level
    * gating:
    *
    *   - VALIDITY: a pair is dropped whole when EITHER side's id is in
    *     `invalidCands` (candidates originating from structurally
    *     invalid dialogues — the [[dialogueStats]] verdict, supplied by
    *     the caller as a one-column (candCol) frame);
    *   - LEAKAGE: a pair is dropped whole when EITHER side's content
    *     shares a whitespace `contamGramN`-gram with the `holdout`
    *     benchmark prompts ([[graft.scale.Dedup.decontaminate]]'s
    *     broadcast-gram shape, probed with the PAIR SIDES as the
    *     corpus — 2·pairs rows, never the full response log).
    *
    * The gates are pair-level BY DESIGN, not candidate-level: a gated
    * chosen side disqualifies the pair — the rejected side is NOT
    * re-paired with the next-best candidate, because the next-best
    * pairing is a different preference judgment than the log recorded
    * (re-pairing around a leak is itself a leak of the benchmark's
    * influence into pair selection). Law spec-pinned.
    *
    * `holdout` carries (candCol, contentCol) column names — the
    * [[sftCurate]] convention.
    *
    * @return the [[preferencePairs]] frame, gated
    */
  def gatedPreferencePairs(
      responses: DataFrame,
      invalidCands: DataFrame,
      holdout: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      contamGramN: Int = 3): DataFrame = {
    // CUT: the pair frame feeds the sides probe AND the final
    // anti-joins (4 references of the assembly agg's tree — the r17
    // fan-out rule); pairs are prompt-count-bounded slim rows
    val pairs = graft.ops.CacheScope.cut(
      preferencePairs(responses, promptCol, candCol, contentCol, signalCol))
    val sides = pairs.select(col("chosen_id").as(candCol),
        col("chosen_content").as(contentCol))
      .unionByName(pairs.select(col("rejected_id").as(candCol),
        col("rejected_content").as(contentCol)))
    val leaky = Dedup.decontaminate(sides, holdout, candCol, contentCol, contamGramN)
      .select(col(candCol))
    val gated = leaky.unionByName(invalidCands.select(col(candCol))).distinct()
    pairs
      .join(gated, pairs("chosen_id") === gated(candCol), "left_anti")
      .join(gated, pairs("rejected_id") === gated(candCol), "left_anti")
  }

  /** The K7-style stage report for [[gatedPreferencePairs]] — pairs
    * assembled, pairs dropped by each gate (validity first, then
    * leakage among the valid, the [[sftCurateCounters]] staging), pairs
    * kept. total = invalid_side + contaminated_valid + kept
    * (conservation law, spec-pinned); an empty preference run reads as
    * "zero kept because N leaked" instead of as a silently-empty frame.
    *
    * @return (stage, n): pairs_total / pairs_invalid_side /
    *         pairs_contaminated_valid / pairs_kept
    */
  def preferencePairCounters(
      responses: DataFrame,
      invalidCands: DataFrame,
      holdout: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      contamGramN: Int = 3): DataFrame = {
    // CUT: ~8 references (sides x2, the per-gate side probes, the
    // four stage counts) of the assembly tree — the r17 fan-out rule
    val pairs = graft.ops.CacheScope.cut(
      preferencePairs(responses, promptCol, candCol, contentCol, signalCol))
    val sides = pairs.select(col("chosen_id").as(candCol),
        col("chosen_content").as(contentCol))
      .unionByName(pairs.select(col("rejected_id").as(candCol),
        col("rejected_content").as(contentCol)))
    val leaky = graft.ops.CacheScope.persisted(
      Dedup.decontaminate(sides, holdout, candCol, contentCol, contamGramN)
        .select(col(candCol)))
    val invalid = graft.ops.CacheScope.persisted(
      invalidCands.select(col(candCol)).distinct())
    def sideIn(set: DataFrame) = pairs
      .join(set, pairs("chosen_id") === set(candCol), "left_semi")
      .unionByName(pairs
        .join(set, pairs("rejected_id") === set(candCol), "left_semi"))
      .select(col(promptCol)).distinct()
    val invalidPairs = graft.ops.CacheScope.persisted(sideIn(invalid))
    val leakyPairs = sideIn(leaky)
    def cnt(stage: String, df: DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n"))
        .select(lit(stage).as("stage"), col("n"))
    cnt("pairs_total", pairs)
      .unionByName(cnt("pairs_invalid_side", invalidPairs))
      .unionByName(cnt("pairs_contaminated_valid",
        leakyPairs.join(invalidPairs, Seq(promptCol), "left_anti")))
      .unionByName(cnt("pairs_kept",
        pairs.select(col(promptCol))
          .join(invalidPairs, Seq(promptCol), "left_anti")
          .join(leakyPairs, Seq(promptCol), "left_anti")))
  }

  /** The MASKED-SEQUENCE materialization of a preference-pair frame —
    * both sides of every pair as trainer-ready sequences: each side is
    * a two-turn dialogue (turn 0 the PROMPT text, loss mask 0; turn 1
    * the side's response content, loss mask 1 — DPO computes loss on
    * response tokens only), encoded and packed by the q151 chain
    * ([[sftTokenStream]] ∘
    * [[graft.scale.ShardPack.materializeSequencesWithMask]]).
    *
    * Side identity packs fail-loud into one numeric dialogue id:
    * side_id = candidate_id · 2 + side (0 chosen, 1 rejected) — unique
    * because a candidate is one log row, and a pure function of the
    * pair frame so the layout reproduces bit-for-bit. A DPO loader
    * recovers (candidate, side) as (side_id div 2, side_id % 2).
    *
    * `promptTexts` supplies the prompt's own text (promptCol,
    * promptTextCol) — prompts and responses are different artifacts in
    * a response log, so the text rides a separate frame rather than
    * being guessed from the key.
    *
    * @return [[graft.scale.ShardPack.materializeSequencesWithMask]]'s
    *         frame: (bin, n_tokens, n_docs, n_doc_starts, token_ids,
    *         mask)
    */
  def preferenceSequences(
      pairs: DataFrame,
      promptTexts: DataFrame,
      promptCol: String,
      promptTextCol: String,
      merges: Seq[Bpe.Merge],
      seqLen: Long): DataFrame =
    ShardPack.materializeSequencesWithMask(
      pairSideStream(pairs, promptTexts, promptCol, promptTextCol, merges),
      "side_id", "mask", seqLen)

  /** PADDED preference tensors — the artifact a DPO trainer actually
    * consumes: one fixed-width row per (shard, bin) where every pair
    * SIDE stays WHOLE (a preference side split across training
    * sequences is not a preference sample any more), sides bin-pack
    * best-fit ([[graft.scale.ShardPack.packBestFit]] over the sides'
    * token counts), token ids right-pad with `padId` and the loss mask
    * with 0 — [[preferenceSequences]] is the zero-waste split twin;
    * this is the whole-sample padded twin, the same split-vs-whole
    * trade as q143 vs q150.
    *
    * FAIL-LOUD on oversize: a side longer than `seqLen` cannot be
    * placed whole, and silently dropping ONE side of a pair corrupts
    * the preference data (the surviving side's sample loses its
    * contrast) — the whole plan refuses in that case; truncate or
    * re-gate upstream (the [[graft.scale.ShardPack.truncateOversize]]
    * policy discussion applies, but cutting response tokens changes
    * the judged artifact, so the engine will not pick that silently).
    *
    * @return (shard, bin, n_docs, fill, pad_len, token_ids[seqLen],
    *         mask[seqLen])
    */
  def preferenceTensors(
      pairs: DataFrame,
      promptTexts: DataFrame,
      promptCol: String,
      promptTextCol: String,
      merges: Seq[Bpe.Merge],
      seqLen: Long,
      shardBudget: Long,
      padId: Long = -1L): DataFrame = {
    val (stream, guarded) = guardedSideLayout(
      pairs, promptTexts, promptCol, promptTextCol, merges, seqLen,
      shardBudget, cutStream = true)
    ShardPack.materializeBestFitWithMask(
      stream, guarded, "side_id", "mask", seqLen, padId)
  }

  /** The GLOBAL WRITER MANIFEST over [[preferenceTensors]]' side layout
    * — [[graft.scale.ShardPack.globalWriterManifest]] composed with the
    * preference-tensor (shard, bin) shape: one row per (epoch,
    * sequence) carrying the contiguous seq_id, the deterministic
    * file assignment (~`fileBudget` tokens per file along the sequence
    * order), and the per-epoch (shard, pos) permutation — the complete
    * loader contract for a DPO tensor export, proving the doc-layout
    * manifest generalizes to pair-side layouts unchanged (same
    * conservation laws: every sequence in exactly one file, exactly
    * once per epoch). The q163 oversize law carries over: a side
    * longer than seqLen fails the whole plan loud rather than silently
    * vanishing from the manifest.
    *
    * @return (shard, bin, fill, n_docs, seq_id, file, epoch, pos)
    */
  def preferenceTensorManifest(
      pairs: DataFrame,
      promptTexts: DataFrame,
      promptCol: String,
      promptTextCol: String,
      merges: Seq[Bpe.Merge],
      seqLen: Long,
      shardBudget: Long,
      fileBudget: Long,
      epochs: Int): DataFrame = {
    // cutStream = false: the manifest path reads the stream ONCE (the
    // count pass) — a cut would pay the Row round-trip for zero
    // analysis dedup, the single-consumer rule
    val (_, guarded) = guardedSideLayout(
      pairs, promptTexts, promptCol, promptTextCol, merges, seqLen,
      shardBudget, cutStream = false)
    ShardPack.globalWriterManifest(guarded, fileBudget, epochs)
  }

  /** The shared back half of [[preferenceTensors]] and
    * [[preferenceTensorManifest]]: the encoded side stream and its
    * oversize-guarded best-fit layout.
    */
  private def guardedSideLayout(
      pairs: DataFrame,
      promptTexts: DataFrame,
      promptCol: String,
      promptTextCol: String,
      merges: Seq[Bpe.Merge],
      seqLen: Long,
      shardBudget: Long,
      cutStream: Boolean): (DataFrame, DataFrame) = {
    // LINEAGE-CUT when the stream fans out (the tensor path: count
    // pass + materialization join + per-doc drift guard — three
    // references whose analysis would each re-walk the whole
    // encode+gate tree under a plain persist); the manifest path reads
    // it once and skips the cut (the single-consumer rule)
    val raw = pairSideStream(pairs, promptTexts, promptCol, promptTextCol, merges)
    val stream = if (cutStream) graft.ops.CacheScope.cut(raw) else raw
    val counts = stream.groupBy(col("side_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val layout = ShardPack.packBestFit(
      counts, "side_id", "n_tokens", seqLen, shardBudget)
    // fail-loud PER ROW, on the oversize column itself: the materialize
    // step's !oversize filter evaluates it for every layout row, so any
    // oversize side errors the plan even when the would-be output is
    // EMPTY. (A separate 1-row guard agg joined to the output is
    // skippable: a null-rejecting filter turns the outer join inner and
    // AQE's empty-relation propagation then never evaluates the guard —
    // the exact silent-empty case the assert exists for.)
    val guarded = layout.withColumn("oversize",
      when(col("oversize"),
        coalesce(
          assert_true(lit(false),
            lit(s"preferenceTensors: some pair side exceeds seqLen=$seqLen — " +
              "a dropped side corrupts its pair; truncate or re-gate " +
              "upstream")).cast("boolean"),
          lit(true)))
        .otherwise(lit(false)))
    (stream, guarded)
  }

  /** GROUP-RELATIVE ADVANTAGES — the GRPO-family data shape (group
    * policy optimization consumes ALL graded candidates of a prompt,
    * each weighted by its advantage over the group, not one
    * best-vs-worst pair): per candidate, `advantage_milli` =
    * signal_milli − mean_milli where signal_milli = ⌊signal·1000⌋ and
    * mean_milli = Σ signal_milli `div` n (integral division truncating
    * toward zero — identical in Spark's `div` and DuckDB's `//`, and
    * equal to floor whenever the group sum is nonnegative) —
    * ALL-INTEGER once the signals are milli-quantized, so the result
    * hash-compares across engines (a floating mean is
    * partition-order-dependent; a floating std additionally differs by
    * algorithm — and the std-free mean-centered form is itself a
    * published GRPO variant). Σ advantage over a group lands in
    * [0, n) for nonnegative sums — the division residue (law,
    * spec-pinned).
    * Groups need ≥ 2 candidates (one candidate has no relative
    * signal); zero-spread groups emit all-zero advantages — unlike
    * [[preferencePairs]], a no-contrast group is still a valid GRPO
    * sample. Null signals are excluded as in [[preferencePairs]].
    *
    * Scale shape: ONE hash agg for the group stats (count + sum —
    * O(1) per-group state) joined back to the candidate rows on the
    * prompt key; no windows, no candidate collects.
    *
    * @return (promptCol, candCol, contentCol, signal_milli,
    *         n_candidates, mean_milli, advantage_milli)
    */
  def groupAdvantages(
      responses: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String): DataFrame = {
    // fail loud on signals the milli quantization cannot represent
    // (NaN, or |signal| past ~2^63/1000): the non-ANSI double→long cast
    // CLAMPS rather than nulls, so an unguarded extreme reward would
    // silently shift its group's mean instead of erroring — test the
    // DOUBLE, not the cast result
    val ok = !isnan(col(signalCol)) &&
      abs(col(signalCol)) < lit(9.223372036854775e15)
    // guard FIRST: binary-arith codegen short-circuits the RIGHT
    // operand when the left is null, so guard-on-the-right is skipped
    // for exactly the rows it protects (the guard-on-the-LEFT law)
    val cand = responses
      .filter(col(signalCol).isNotNull)
      .select(col(promptCol), col(candCol), col(contentCol),
        (coalesce(
          assert_true(ok,
            lit("groupAdvantages: signal NaN or out of milli-quantization " +
              "range (|signal| must be < 2^63/1000)")).cast("long"),
          lit(0L)) + floor(col(signalCol) * 1000).cast("long")).as("signal_milli"))
    val stats = cand.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("signal_milli")).as("__sum"))
      .filter(col("n_candidates") >= 2)
      .withColumn("mean_milli", expr("__sum div n_candidates"))
      .drop("__sum")
    cand.join(stats, Seq(promptCol))
      .withColumn("advantage_milli", col("signal_milli") - col("mean_milli"))
  }

  /** [[groupAdvantages]] with the q155 gates applied CANDIDATE-LEVEL —
    * the designed CONTRAST to [[gatedPreferencePairs]]' pair-level
    * gating: a pair is one judgment, so a gated side kills it whole;
    * a GROUP is re-normalizable — removing a leaky or invalid-dialogue
    * candidate leaves a smaller but still-valid group, and the mean
    * recomputes over the SURVIVORS only (gating before the stats is
    * the whole point: a leaked candidate must not shift the group mean
    * it was judged against). Groups reduced below 2 survivors drop.
    *
    * @return the [[groupAdvantages]] frame over surviving candidates
    */
  def gatedGroupAdvantages(
      responses: DataFrame,
      invalidCands: DataFrame,
      holdout: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      contamGramN: Int = 3): DataFrame = {
    val leaky = Dedup.decontaminate(
      responses.select(col(candCol), col(contentCol)),
      holdout, candCol, contentCol, contamGramN)
      .select(col(candCol))
    val survivors = responses
      .join(leaky.unionByName(invalidCands.select(col(candCol))).distinct(),
        Seq(candCol), "left_anti")
    groupAdvantages(survivors, promptCol, candCol, contentCol, signalCol)
  }

  /** [[groupAdvantages]]' STD-NORMALIZED twin — the PUBLISHED GRPO
    * formulation ((r − mean) / std) in EXACT integer arithmetic so the
    * result hash-compares across engines (a floating std additionally
    * differs by summation algorithm, not just order):
    *
    *   - the variance is measured around the INTEGER milli mean m =
    *     Σs div n (the quantization law: Σ(s−m)² div n, not the exact-
    *     mean variance — deterministic, and within quantization error
    *     of it), computed EXACTLY from one agg via the expansion
    *     Σ(s−m)² = Σs² − 2·m·Σs + n·m² in decimal(38,0) (Σs² overflows
    *     a long; each term is exact in 38 digits);
    *   - `std_milli` = isqrt(var_milli2), the exact INTEGER square
    *     root: one double sqrt seeds within ±1 (IEEE sqrt is
    *     correctly rounded and var < 2^62 keeps the seed in exact
    *     double range), then one ±1 correction pins std² ≤ var <
    *     (std+1)² (law, spec-pinned) — floor(sqrt(double)) alone can
    *     disagree across engines at perfect-square boundaries;
    *   - `adv_norm_milli` = (s − m)·1000 div std_milli — the advantage
    *     in milli-σ units; zero-spread groups (std 0) emit all-zero
    *     normalized advantages, the [[groupAdvantages]] zero-spread
    *     law (a no-contrast group is still a valid GRPO sample).
    *
    * Signals are bounded tighter than [[groupAdvantages]]:
    * |signal| < 2^30/1000 (≈ 1.07e6) so every deviation square fits a
    * long before the decimal sum — rewards live in small ranges; a
    * reward past a million is a grader bug this guard names.
    *
    * Scale shape: ONE hash agg (count + sum + decimal sum of squares —
    * O(1) per-group state) joined back on the prompt key; the variance
    * expansion is scalar arithmetic on the group row. No second pass.
    *
    * @return (promptCol, candCol, contentCol, signal_milli,
    *         n_candidates, mean_milli, var_milli2, std_milli,
    *         advantage_milli, adv_norm_milli)
    */
  def groupAdvantagesStd(
      responses: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String): DataFrame = {
    val ok = !isnan(col(signalCol)) &&
      abs(col(signalCol)) < lit(1073741.824) // 2^30 milli
    val cand = responses
      .filter(col(signalCol).isNotNull)
      .select(col(promptCol), col(candCol), col(contentCol),
        (coalesce(
          assert_true(ok,
            lit("groupAdvantagesStd: signal NaN or out of the std twin's " +
              "milli range (|signal| must be < 2^30/1000 so deviation " +
              "squares stay exact)")).cast("long"),
          lit(0L)) + floor(col(signalCol) * 1000).cast("long")).as("signal_milli"))
    val stats = cand.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("signal_milli")).as("__sum"),
        sum(col("signal_milli").cast("decimal(38,0)") * col("signal_milli"))
          .as("__ss"))
      .filter(col("n_candidates") >= 2)
      .withColumn("mean_milli", expr("__sum div n_candidates"))
      // Σ(s−m)² = Σs² − 2mΣs + n·m², exact in decimal(38,0); always
      // >= 0 for ANY m, so the integral division truncates toward zero
      // and floor identically
      .withColumn("var_milli2", expr(
        """(__ss - 2 * CAST(mean_milli AS DECIMAL(38,0)) * __sum
          |  + CAST(n_candidates AS DECIMAL(38,0)) * mean_milli * mean_milli)
          | div n_candidates""".stripMargin))
      .withColumn("__s0",
        floor(sqrt(col("var_milli2").cast("double"))).cast("long"))
      .withColumn("std_milli",
        when((col("__s0") + 1) * (col("__s0") + 1) <= col("var_milli2"),
          col("__s0") + 1)
          .when(col("__s0") * col("__s0") > col("var_milli2"), col("__s0") - 1)
          .otherwise(col("__s0")))
      .drop("__sum", "__ss", "__s0")
    cand.join(stats, Seq(promptCol))
      .withColumn("advantage_milli", col("signal_milli") - col("mean_milli"))
      .withColumn("adv_norm_milli",
        when(col("std_milli") > 0L,
          expr("(advantage_milli * 1000) div std_milli")).otherwise(0L))
  }

  /** [[groupAdvantagesStd]] with the q155 gates applied CANDIDATE-LEVEL
    * — [[gatedGroupAdvantages]]' law on the std twin: survivors only,
    * mean AND std re-normalize over them, groups below 2 drop.
    */
  def gatedGroupAdvantagesStd(
      responses: DataFrame,
      invalidCands: DataFrame,
      holdout: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      contamGramN: Int = 3): DataFrame = {
    val leaky = Dedup.decontaminate(
      responses.select(col(candCol), col(contentCol)),
      holdout, candCol, contentCol, contamGramN)
      .select(col(candCol))
    val survivors = responses
      .join(leaky.unionByName(invalidCands.select(col(candCol))).distinct(),
        Seq(candCol), "left_anti")
    groupAdvantagesStd(survivors, promptCol, candCol, contentCol, signalCol)
  }

  /** UNPAIRED BINARY-FEEDBACK dataset — the KTO-family data shape
    * (thumbs-up/down telemetry, no pairing): each graded candidate
    * labels `desirable` by `signal >= threshold`, and per-prompt CLASS
    * BALANCE weights make the two classes contribute equally to the
    * loss regardless of feedback skew (the KTO λ_D·n_D ≈ λ_U·n_U
    * desideratum in exact integers): weight_milli = 1000·min(n_D, n_U)
    * div n_class — the minority class weighs 1000, the majority
    * downweights, and |Σ_D w − Σ_U w| < max(n_D, n_U) (one truncation
    * milli per majority row; balance law, spec-pinned). A one-class
    * prompt has nothing to balance against: its rows carry weight 1000
    * and the other count 0, so a caller can filter or reweight — the
    * engine reports rather than silently dropping usable feedback
    * (unlike [[preferencePairs]], unpaired methods consume one-sided
    * prompts; that is their point). Null signals are excluded; NaN
    * fails loud ([[preferencePairs]]' guard — a NaN compares false and
    * would silently land undesirable).
    *
    * Scale shape: ONE hash agg (two conditional counts — O(1)
    * per-group state) joined back on the prompt key. No windows, no
    * collects, no pairing blow-up.
    *
    * @return (promptCol, candCol, contentCol, signalCol, desirable,
    *         n_desirable, n_undesirable, weight_milli)
    */
  def binaryFeedback(
      responses: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      threshold: Double): DataFrame = {
    val base = signalGated(responses, signalCol, "binaryFeedback",
      "it would silently label undesirable")
    base.withColumn("desirable", col(signalCol) >= lit(threshold))
      .join(classCounts(base, promptCol, signalCol, threshold), Seq(promptCol))
      .withColumn("weight_milli",
        when(col("n_desirable") === 0L || col("n_undesirable") === 0L, 1000L)
          .otherwise(expr(
            """(least(n_desirable, n_undesirable) * 1000)
              | div (CASE WHEN desirable THEN n_desirable
              |           ELSE n_undesirable END)""".stripMargin)))
      .select(col(promptCol), col(candCol), col(contentCol), col(signalCol),
        col("desirable"), col("n_desirable"), col("n_undesirable"),
        col("weight_milli"))
  }

  /** Per-prompt CLASS COUNTS of a binary-feedback log —
    * [[binaryFeedback]]'s front half: per prompt the number of
    * desirable (signal ≥ threshold) and undesirable candidates. Null
    * signals are excluded and NaN fails loud, as in [[binaryFeedback]].
    * One hash agg with two longs of per-prompt state, so it is
    * streamable unchanged (complete mode) as a live feedback-balance
    * monitor; the evicting form is
    * `StreamingOps.feedbackClassCountsFinalStream`. The StreamingOpsSpec
    * case "feedbackClassCountsStream: stream == batch class counts at
    * every prefix; two-stage join == binaryFeedback" pins stream ==
    * batch.
    *
    * @return (promptCol, n_desirable, n_undesirable)
    */
  def feedbackClassCounts(
      responses: DataFrame,
      promptCol: String,
      signalCol: String,
      threshold: Double): DataFrame =
    classCounts(
      signalGated(responses, signalCol, "feedbackClassCounts",
        "it would silently count undesirable"),
      promptCol, signalCol, threshold)

  /** [[feedbackClassCounts]]' aggregation over already-gated rows. */
  private def classCounts(
      gated: DataFrame, promptCol: String, signalCol: String,
      threshold: Double): DataFrame =
    gated.groupBy(col(promptCol))
      .agg(
        sum(when(col(signalCol) >= lit(threshold), 1L).otherwise(0L))
          .as("n_desirable"),
        sum(when(col(signalCol) < lit(threshold), 1L).otherwise(0L))
          .as("n_undesirable"))

  /** [[binaryFeedback]] with the q155 gates applied CANDIDATE-LEVEL —
    * the [[gatedGroupAdvantages]] law: unpaired feedback is
    * re-balanceable, so a leaky or invalid candidate is removed and
    * the class counts (hence weights) recompute over the SURVIVORS; a
    * gated candidate must not skew the balance it was judged under.
    * One-class prompts survive (the unpaired point).
    */
  def gatedBinaryFeedback(
      responses: DataFrame,
      invalidCands: DataFrame,
      holdout: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      threshold: Double,
      contamGramN: Int = 3): DataFrame = {
    val leaky = Dedup.decontaminate(
      responses.select(col(candCol), col(contentCol)),
      holdout, candCol, contentCol, contamGramN)
      .select(col(candCol))
    val survivors = responses
      .join(leaky.unionByName(invalidCands.select(col(candCol))).distinct(),
        Seq(candCol), "left_anti")
    binaryFeedback(survivors, promptCol, candCol, contentCol, signalCol, threshold)
  }

  /** The PER-TURN reward reduction — [[turnAdvantages]]' missing FRONT
    * half: true process-reward data arrives as one reward per TURN,
    * and the trajectory signal that operator requires is their
    * reduction. The reduction runs under the integral-milli
    * quantize-then-sum law [[turnAdvantages]] states for its input:
    * each reward quantizes to ⌊reward·1000⌋ FIRST and the integers
    * sum — a floating sum is partition-order-dependent, so quantizing
    * after the reduction would hash-differ across engines/cluster
    * sizes. Null rewards contribute nothing; a trajectory with NO
    * non-null reward emits no row (it carries no signal — exactly
    * [[turnAdvantages]]' null-signal exclusion). NaN or
    * out-of-range rewards fail loud ([[groupAdvantages]]' guard).
    *
    * `groupCol` rides the reward rows (a response log carries the
    * prompt key on every event); a trajectory whose rows DISAGREE on
    * it reduces to two (group, trajectory) rows and
    * [[turnAdvantages]]' eager duplicate-trajectory contract then
    * names it — inconsistent grouping cannot silently double-count.
    *
    * Scale shape: one projection + ONE hash agg (sum + count — O(1)
    * per-trajectory state). The sum runs in decimal(38,0) — a long
    * sum over a long trajectory of large rewards would WRAP silently
    * (Spark's non-ANSI overflow); the decimal is exact in 38 digits
    * and the long cast is guarded, so an overflowing trajectory fails
    * with a named error instead of a corrupted signal. Composition
    * law, spec-pinned: [[turnAdvantagesFromRewards]] ==
    * [[turnAdvantages]] over pre-reduced signals. Streamable unchanged
    * in complete mode, as a live trajectory-signal reducer (the
    * evicting form is `StreamingOps.trajectorySignalFinalStream`); the
    * StreamingOpsSpec case "trajectorySignalStream == batch
    * turnSignalReduce at every micro-batch prefix" pins stream ==
    * batch.
    *
    * @return (groupCol, trajCol, signal_milli, n_reward_turns)
    */
  def turnSignalReduce(
      turnRewards: DataFrame,
      groupCol: String,
      trajCol: String,
      rewardCol: String): DataFrame = {
    val fits = abs(col("__sum")) < lit(BigDecimal("9223372036854775808"))
    turnRewards
      .filter(col(rewardCol).isNotNull)
      .select(col(groupCol), col(trajCol),
        graft.ops.Guards.quantizedMilli(rewardCol, "turnSignalReduce")
          .as("__r"))
      .groupBy(col(groupCol), col(trajCol))
      .agg(sum(col("__r").cast("decimal(38,0)")).as("__sum"),
        count(lit(1)).as("n_reward_turns"))
      .select(col(groupCol), col(trajCol),
        (coalesce(
          assert_true(fits,
            lit("turnSignalReduce: trajectory milli sum exceeds a long — " +
              "the reduction would wrap silently; rescale the rewards")
          ).cast("long"),
          lit(0L)) + col("__sum").cast("long")).as("signal_milli"),
        col("n_reward_turns"))
  }

  /** [[turnSignalReduce]] composed with [[turnAdvantages]] — the whole
    * process-reward chain from per-turn rewards to attributed per-turn
    * advantages in one call. Equals [[turnAdvantages]] over the
    * pre-reduced signal frame by construction (law, spec-pinned).
    */
  def turnAdvantagesFromRewards(
      turns: DataFrame,
      turnRewards: DataFrame,
      groupCol: String,
      trajCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      rewardCol: String,
      attrRoles: Option[Set[String]] = None): DataFrame =
    turnAdvantages(turns,
      turnSignalReduce(turnRewards, groupCol, trajCol, rewardCol),
      groupCol, trajCol, tsCol, idCol, roleCol, "signal_milli", attrRoles)

  /** γ-DISCOUNTED RETURN-TO-GO — [[turnSignalReduce]]'s temporal
    * refinement: each turn's return is its own reward plus the
    * discounted return of everything after it, the per-step value
    * target a process-reward trainer regresses on when later credit
    * should decay ([[turnSignalReduce]]'s SUM is the γ=1 special
    * case). γ arrives in PPM (parts per million) and the whole
    * recurrence runs in EXACT integers under the stated RESIDUE LAW —
    * quantize-then-Horner:
    *
    *   q_t = ⌊reward_t · 1000⌋   (the family's milli quantization)
    *   R_last = q_last
    *   R_t = q_t + (gammaPpm · R_{t+1}) div 10^6   (div truncates
    *         toward zero at EVERY step — Spark `div`, DuckDB `//`,
    *         Java `/` all agree, negatives included)
    *
    * A floating pipeline (discount in doubles, quantize last) is both
    * partition-order-dependent AND diverges from this law even on
    * two-turn fixtures (⌊−2.5⌋ = −3 vs the exact −2; spec-pinned) —
    * the same reproducibility argument as [[turnSignalReduce]], now
    * applied per step. Laws, spec-pinned: γ=10^6 ⇒ returns are exact
    * suffix sums and turn 0's return equals [[turnSignalReduce]]'s
    * signal; γ=0 ⇒ each turn keeps only its own reward; the last
    * turn's return is always its own reward.
    *
    * A NULL-reward turn contributes q = 0 but KEEPS its position: the
    * decision step happened, its measured reward is absent — deleting
    * it would silently re-discount every earlier turn (γ counts
    * decision steps, not log rows). NaN / out-of-range rewards fail
    * loud ([[turnSignalReduce]]'s guard); a Horner step that would
    * overflow a long fails BY NAME (Math.multiplyExact/addExact),
    * never wraps — the batch decimal guard's analogue. gammaPpm must
    * lie in [0, 10^6]: an amplifying discount (> 1) turns the
    * recurrence into unbounded growth, which is a modeling error, not
    * a data shape.
    *
    * Scale shape: one projection + ONE hash agg collecting each
    * trajectory's (ts, id, q) turns + a per-trajectory fold UDF (the
    * [[graft.scale.ShardPack.packBestFit]] bounded-sequential-unit
    * precedent: per-group state is the DIALOGUE's own turn list, never
    * the corpus) + one explode. A linear recurrence has no window
    * form; the fold IS the semantics.
    *
    * @return (groupCol, trajCol, idCol, turn, reward_milli,
    *         return_milli) — turn 0-based in (tsCol, idCol) order;
    *         idCol/tsCol must be long-castable (fail-loud)
    */
  def turnReturnsToGo(
      turnRewards: DataFrame,
      groupCol: String,
      trajCol: String,
      tsCol: String,
      idCol: String,
      rewardCol: String,
      gammaPpm: Long): DataFrame = {
    require(gammaPpm >= 0L && gammaPpm <= 1000000L,
      s"turnReturnsToGo: gammaPpm must be in [0, 1000000], got $gammaPpm")
    val fold = udf((turns: Seq[org.apache.spark.sql.Row]) => {
      // R starts at 0, so the last turn's step is q + (γ·0) div 10^6 =
      // q — R_last = q_last falls out of the recurrence itself
      var r = 0L
      var i = turns.length - 1
      val out = new Array[(Long, Long, Long, Long)](turns.length)
      while (i >= 0) {
        val t = turns(i)
        val q = t.getLong(2)
        r =
          try Math.addExact(q, Math.multiplyExact(gammaPpm, r) / 1000000L)
          catch {
            case _: ArithmeticException => throw new IllegalArgumentException(
              "turnReturnsToGo: a discounted return overflows a long — " +
                "rescale the rewards")
          }
        out(i) = (t.getLong(1), i.toLong, q, r)
        i -= 1
      }
      out.toSeq
    })
    turnRewards
      .select(col(groupCol), col(trajCol),
        graft.ops.Guards.guardedLong(tsCol, "turnReturnsToGo",
          "numeric turn-order key").as("__ts"),
        graft.ops.Guards.guardedLong(idCol, "turnReturnsToGo",
          "numeric turn-order key").as("__id"),
        when(col(rewardCol).isNull, lit(0L))
          .otherwise(
            graft.ops.Guards.quantizedMilli(rewardCol, "turnReturnsToGo"))
          .as("__q"))
      .groupBy(col(groupCol), col(trajCol))
      .agg(array_sort(collect_list(struct(col("__ts"), col("__id"),
        col("__q")))).as("__turns"))
      .select(col(groupCol), col(trajCol),
        explode(fold(col("__turns"))).as("__r"))
      .select(col(groupCol), col(trajCol),
        col("__r._1").as(idCol), col("__r._2").as("turn"),
        col("__r._3").as("reward_milli"), col("__r._4").as("return_milli"))
  }

  /** The PRM TRAINING-TOKEN STREAM — [[turnAdvantages]]' BACK half:
    * per-token value targets for a process-reward-model trainer. Every
    * token of a surviving trajectory's turn carries
    *
    *   - `mask` 1 iff its turn is ATTRIBUTED (the `attrRoles` law —
    *     a value model trains on the credited turns only), and
    *   - `value_milli`, the turn's `adv_turn_uniform_milli` — each
    *     token of a turn learns ITS TURN's credit share (the value is
    *     a per-token TARGET, repeated by design, not a conserved
    *     quantity; the per-trajectory conservation law lives in
    *     [[turnAdvantages]], the source of truth this stream joins).
    *
    * Turns of excluded trajectories emit nothing (the
    * [[turnAdvantages]] exclusion law); a turn whose content tokenizes
    * to ZERO tokens contributes no rows — it has no tokens to label;
    * its credit still exists in the advantage frame (callers exporting
    * strict coverage should gate empty turns upstream). Encoding and
    * the dialogue-level token offsets are [[sftTokenStream]]'s exact
    * discipline (per-turn [[graft.scale.Bpe.encodeIndexedIds]], turn
    * starts by a trajectory-keyed running sum).
    *
    * Feed [[graft.scale.ShardPack.materializeSequencesWithChannels]]
    * (channels mask + value_milli) for the packed artifact.
    *
    * Scale shape: the advantage frame is turn-count-sized and joins on
    * the turn id; the only windows are trajectory-keyed; the encode
    * chain is lineage-cut at each fan-out.
    *
    * @return (trajCol, tok_idx, token_id, mask, value_milli) — tok_idx
    *         densely 0-based per trajectory
    */
  def prmTokenStream(
      turns: DataFrame,
      trajSignals: DataFrame,
      groupCol: String,
      trajCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      contentCol: String,
      signalMilliCol: String,
      merges: Seq[Bpe.Merge],
      attrRoles: Option[Set[String]] = None): DataFrame =
    prmTokenCore(turns,
      turnAdvantagesCore(turns, trajSignals, groupCol, trajCol, tsCol,
        idCol, roleCol, signalMilliCol, attrRoles)
        .select(col(idCol), col("attributed"),
          col("adv_turn_uniform_milli").as("value_milli")),
      trajCol, tsCol, idCol, contentCol, merges)

  /** [[prmTokenStream]]'s RETURNS-TO-GO twin — the value-function
    * trainer's per-token target: each token of a turn carries
    * [[turnReturnsToGo]]'s `return_milli` for that turn (turn-constant
    * by design — V(s_t) regresses on R_t, the discounted return of
    * everything from the turn on), instead of the advantage SHARE
    * [[prmTokenStream]] spreads. The composition is literally ONE
    * substitution in the shared token core: the per-turn value frame
    * is the γ-discounted return instead of the attributed advantage —
    * tokenization, offsets, and the mask discipline are
    * [[prmTokenCore]]'s verbatim (structural law, spec-pinned: on
    * inputs where every trajectory survives [[prmTokenStream]]'s group
    * gate, the two streams agree row-for-row on
    * (trajCol, tok_idx, token_id)).
    *
    * Differences from the advantage stream, both deliberate: EVERY
    * trajectory with reward rows emits (a return needs no group
    * baseline, so the ≥ 2-trajectories gate does not apply), and the
    * mask is pure ROLE attribution (`attrRoles`; None masks every turn
    * in) — there is no advantage frame to inherit attribution from.
    * [[turnReturnsToGo]]'s laws lift per token: γ=10^6 ⇒ each turn's
    * value is its suffix sum (turn 0 carries [[turnSignalReduce]]'s
    * whole signal); γ=0 ⇒ each turn's value is its own reward. Turns
    * absent from the reward log emit nothing (they have no return to
    * target — gate upstream for strict coverage, the zero-token-turn
    * convention).
    *
    * Feed [[graft.scale.ShardPack.materializeSequencesWithChannels]]
    * (channels mask + value_milli) for the packed artifact — q176's
    * export shape with value-function targets.
    *
    * Scale shape: [[prmTokenCore]]'s (the one window is
    * trajectory-keyed; the encode chain is lineage-cut) plus
    * [[turnReturnsToGo]]'s single hash agg + per-dialogue fold.
    *
    * @return (trajCol, tok_idx, token_id, mask, value_milli)
    */
  def prmReturnsTokenStream(
      turns: DataFrame,
      turnRewards: DataFrame,
      groupCol: String,
      trajCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      contentCol: String,
      rewardCol: String,
      gammaPpm: Long,
      merges: Seq[Bpe.Merge],
      attrRoles: Option[Set[String]] = None): DataFrame = {
    val rtg = turnReturnsToGo(turnRewards, groupCol, trajCol, tsCol, idCol,
      rewardCol, gammaPpm)
      .select(col(idCol), col("return_milli").as("value_milli"))
    val attributed = attrRoles match {
      case Some(rs) => col(roleCol).isin(rs.toSeq: _*)
      case None     => lit(true)
    }
    prmTokenCore(turns,
      turns.select(col(idCol), attributed.as("attributed"))
        .join(rtg, Seq(idCol)),
      trajCol, tsCol, idCol, contentCol, merges)
  }

  /** The shared PRM token engine under [[prmTokenStream]] /
    * [[prmReturnsTokenStream]]: `values` is one row per surviving turn
    * (idCol, attributed, value_milli) — whatever credit policy
    * produced it; turns absent from it emit nothing. Encoding and the
    * dialogue-level token offsets are [[sftTokenStream]]'s exact
    * discipline.
    */
  private def prmTokenCore(
      turns: DataFrame,
      values: DataFrame,
      trajCol: String,
      tsCol: String,
      idCol: String,
      contentCol: String,
      merges: Seq[Bpe.Merge]): DataFrame = {
    // CUT: the value frame feeds the survivor semi-join AND the final
    // token join; the survivor turn frame feeds the encode AND the
    // offset window; the encode feeds its count agg AND the join —
    // each is a fan-out boundary over an expensive subtree (r17 rule)
    val adv = graft.ops.CacheScope.cut(
      values.select(col(idCol), col("attributed"), col("value_milli")))
    val surv = graft.ops.CacheScope.cut(
      turns.join(adv.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(idCol), col(trajCol), col(tsCol), col(contentCol)))
    val enc = graft.ops.CacheScope.cut(
      Bpe.encodeIndexedIds(
        surv.select(col(idCol), col(contentCol)), idCol, contentCol, merges)
        .withColumnRenamed("tok_idx", "turn_tok_idx"))
    val nPer = enc.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(trajCol)).orderBy(col(tsCol), col(idCol))
    val turnStarts = surv
      .join(nPer, Seq(idCol), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
      .withColumn("turn_start",
        coalesce(sum(col("__n"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(idCol), col(trajCol), col("turn_start"))
    enc.join(turnStarts, Seq(idCol))
      .join(adv, Seq(idCol))
      .select(col(trajCol),
        (col("turn_start") + col("turn_tok_idx")).as("tok_idx"),
        col("token_id"),
        when(col("attributed"), 1L).otherwise(0L).as("mask"),
        col("value_milli"))
  }

  /** TURN-LEVEL (process-reward) ADVANTAGES — the multi-turn RL data
    * shape [[groupAdvantages]]' prompt-level GRPO doesn't cover: a
    * TRAJECTORY (a whole dialogue) earns one scalar signal, its group
    * (all trajectories answering the same prompt) supplies the relative
    * baseline, and the trajectory's advantage is ATTRIBUTED to its
    * TURNS — the per-step credit a process-reward trainer consumes.
    * Both standard attribution policies are emitted as columns of ONE
    * frame (they differ only in a final expression over the same join,
    * so two calls would run the window+agg chain twice for nothing):
    *
    *   - `adv_turn_uniform_milli`: the advantage spreads uniformly over
    *     the ATTRIBUTABLE turns — base = advantage div n_attr (integral,
    *     truncating toward zero — identical in Spark's `div` and
    *     DuckDB's `//`, verified on negative advantages too), and the
    *     division residue spreads ±1 milli over the FIRST |residue|
    *     attributable turns, so per-turn shares differ by at most 1
    *     milli and the trajectory's advantage is conserved EXACTLY;
    *   - `adv_turn_last_milli`: the whole advantage lands on the LAST
    *     attributable turn (the "last assistant turn" policy — outcome
    *     credit at the trajectory's final decision point), 0 elsewhere.
    *
    * Σ turn advantage over a trajectory == the trajectory's advantage,
    * for BOTH policies (conservation law, spec-pinned). `attrRoles`
    * restricts attribution to turns of those roles (the assistant's
    * turns — a trainer never credits user turns); None attributes to
    * every turn. A trajectory whose advantage has NO attributable turn
    * — none of its turns match `attrRoles`, or it has no turn rows at
    * all — FAILS LOUD: its advantage would otherwise silently vanish,
    * the conservation-break class (widen attrRoles or gate the
    * trajectory upstream).
    *
    * `trajSignals` is one row per trajectory (groupCol, trajCol,
    * signalMilliCol) with the signal ALREADY integer-milli: a
    * trajectory signal is a REDUCTION of per-step rewards, and a
    * floating reduction is partition-order-dependent — quantize each
    * reward ([[groupAdvantages]]' floor·1000 law) and integer-sum
    * upstream, where the reduction's semantics live. The engine
    * REFUSES floating trajectory signals (require, not assert: the
    * schema is known at plan time). Null signals are excluded and
    * groups need ≥ 2 trajectories, exactly as [[groupAdvantages]];
    * turns of excluded trajectories emit no rows (they carry no
    * advantage).
    *
    * Scale shape: ONE hash agg for the group stats (count + sum — O(1)
    * per-group state), trajectory-keyed windows over the turn frame
    * (a trajectory's turn list is the partition unit, never the
    * corpus), one join on the trajectory key. No candidate collects,
    * no corpus-sized window.
    *
    * @return (groupCol, trajCol, turn [0-based in (ts, id) order],
    *         roleCol, attributed, n_turns, n_attr_turns, signal_milli,
    *         n_trajectories, mean_milli, advantage_milli,
    *         adv_turn_uniform_milli, adv_turn_last_milli)
    */
  def turnAdvantages(
      turns: DataFrame,
      trajSignals: DataFrame,
      groupCol: String,
      trajCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      signalMilliCol: String,
      attrRoles: Option[Set[String]] = None): DataFrame =
    turnAdvantagesCore(turns, trajSignals, groupCol, trajCol, tsCol, idCol,
      roleCol, signalMilliCol, attrRoles)
      .select(col(groupCol), col(trajCol), col("turn"), col(roleCol),
        col("attributed"), col("n_turns"), col("n_attr_turns"),
        col("signal_milli"), col("n_trajectories"), col("mean_milli"),
        col("advantage_milli"), col("adv_turn_uniform_milli"),
        col("adv_turn_last_milli"))

  /** [[turnAdvantages]] plus the TURN ID column — the internal form
    * [[prmTokenStream]] joins tokens through (the public frame drops
    * the id to keep the q165/q174 driver schema stable).
    */
  private def turnAdvantagesCore(
      turns: DataFrame,
      trajSignals: DataFrame,
      groupCol: String,
      trajCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      signalMilliCol: String,
      attrRoles: Option[Set[String]] = None): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    require(
      trajSignals.schema(signalMilliCol).dataType == LongType ||
        trajSignals.schema(signalMilliCol).dataType == IntegerType,
      s"turnAdvantages: $signalMilliCol must be integral milli (a floating " +
        "trajectory signal is a partition-order-dependent reduction — " +
        "quantize per-step and integer-sum upstream)")
    attrRoles.foreach(rs => require(rs.nonEmpty,
      "turnAdvantages: empty attrRoles would attribute to nothing — " +
        "pass None to attribute to every turn"))
    // trajSignals must be ONE row per trajectory: a duplicate key would
    // double-count the group stats (shifting every group mean) AND
    // duplicate its turns through the advantage join — Σ turn advantage
    // = 2× the trajectory's, a silent conservation break. The frame is
    // trajectory-count-sized — the EagerContracts cost statement.
    graft.ops.EagerContracts.requireUniqueKeys(trajSignals, trajCol,
      "turnAdvantages",
      "each would double-count its group's stats and duplicate its " +
        "turn rows (Σ turn advantage = 2× the trajectory's)")
    val cand = trajSignals
      .filter(col(signalMilliCol).isNotNull)
      .select(col(groupCol), col(trajCol),
        col(signalMilliCol).cast("long").as("signal_milli"))
    val stats = cand.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_trajectories"),
        sum(col("signal_milli")).as("__sum"))
      .filter(col("n_trajectories") >= 2)
      .withColumn("mean_milli", expr("__sum div n_trajectories"))
      .drop("__sum")
    val adv = cand.join(stats, Seq(groupCol))
      .withColumn("advantage_milli", col("signal_milli") - col("mean_milli"))
    val isAttr = attrRoles match {
      case None     => lit(true)
      case Some(rs) => col(roleCol).isin(rs.toSeq: _*)
    }
    val wOrd = Window.partitionBy(col(trajCol)).orderBy(col(tsCol), col(idCol))
    val wAll = Window.partitionBy(col(trajCol))
    val tf = turns.select(col(trajCol), col(tsCol), col(idCol), col(roleCol))
      .withColumn("turn", (row_number().over(wOrd) - 1).cast("long"))
      .withColumn("attributed", isAttr)
      .withColumn("__rk",
        sum(when(col("attributed"), 1L).otherwise(0L)).over(wOrd))
      .withColumn("n_turns", count(lit(1)).over(wAll))
      .withColumn("n_attr_turns",
        sum(when(col("attributed"), 1L).otherwise(0L)).over(wAll))
    // LEFT join from the advantage side: an inner join would silently
    // VANISH a trajectory with an advantage but no turn rows (its
    // group's mean already counted it — dropping it breaks conservation
    // against the group); the guard below sees its null n_attr_turns
    // and fails loud. The guard rides the output columns, evaluated for
    // every emitted row.
    val joined = adv.join(tf, Seq(trajCol), "left")
    val guard = coalesce(
      assert_true(col("n_attr_turns").isNotNull && col("n_attr_turns") > 0L,
        lit("turnAdvantages: a trajectory with an advantage has no " +
          "attributable turn (or no turn rows at all) — its advantage " +
          "would silently vanish; widen attrRoles or gate the " +
          "trajectory upstream")).cast("long"),
      lit(0L))
    joined
      // guard FIRST: codegen short-circuits a binary op's right operand
      // when the left is null, and the div IS null for exactly the rows
      // the guard exists for (null n_attr_turns on an uncovered
      // trajectory) — guard-on-the-right would never evaluate
      .withColumn("__base", guard + expr("advantage_milli div n_attr_turns"))
      .withColumn("__residue",
        col("advantage_milli") - col("__base") * col("n_attr_turns"))
      .withColumn("adv_turn_uniform_milli",
        when(!col("attributed"), 0L)
          .otherwise(col("__base") +
            when(col("__rk") <= abs(col("__residue")),
              signum(col("__residue")).cast("long")).otherwise(0L)))
      .withColumn("adv_turn_last_milli",
        when(col("attributed") && col("__rk") === col("n_attr_turns"),
          col("advantage_milli")).otherwise(0L))
      .select(col(groupCol), col(trajCol), col(idCol), col("turn"),
        col(roleCol), col("attributed"), col("n_turns"), col("n_attr_turns"),
        col("signal_milli"), col("n_trajectories"), col("mean_milli"),
        col("advantage_milli"), col("adv_turn_uniform_milli"),
        col("adv_turn_last_milli"))
  }

  /** [[turnAdvantages]] with the q155 gates applied TRAJECTORY-LEVEL —
    * the multi-turn instance of [[gatedGroupAdvantages]]' candidate-
    * level law (here the trajectory IS the group's candidate): a
    * trajectory is removed whole when it is structurally invalid
    * (`invalidTrajs`, e.g. [[dialogueStats]]' verdict keyed by the
    * trajectory id) or when ANY of its turns' content shares a
    * whitespace `contamGramN`-gram with the `holdout` benchmark
    * prompts; the group mean then re-normalizes over the SURVIVORS
    * (gating before the stats — a leaked trajectory must not shift the
    * baseline it was judged against). Groups reduced below 2 survivors
    * drop. Turn rows of gated trajectories vanish with them (the
    * advantage join is driven from the surviving signal frame).
    *
    * `holdout` carries (idCol, contentCol) column names — the
    * [[sftCurate]] convention; `invalidTrajs` carries trajCol.
    */
  def gatedTurnAdvantages(
      turns: DataFrame,
      trajSignals: DataFrame,
      invalidTrajs: DataFrame,
      holdout: DataFrame,
      groupCol: String,
      trajCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      contentCol: String,
      signalMilliCol: String,
      attrRoles: Option[Set[String]] = None,
      contamGramN: Int = 3): DataFrame = {
    val leakyTurns = Dedup.decontaminate(
      turns.select(col(idCol), col(contentCol)),
      holdout, idCol, contentCol, contamGramN)
      .select(col(idCol))
    val gated = turns.join(leakyTurns, Seq(idCol), "left_semi")
      .select(col(trajCol))
      .unionByName(invalidTrajs.select(col(trajCol)))
      .distinct()
    turnAdvantages(
      turns, trajSignals.join(gated, Seq(trajCol), "left_anti"),
      groupCol, trajCol, tsCol, idCol, roleCol, signalMilliCol, attrRoles)
  }

  /** BEST-OF-N (rejection-sampling) SELECTION — the RFT/distillation
    * data shape next to [[preferencePairs]]' DPO pair: keep the TOP-K
    * graded candidates per prompt by (signal, id) descending — the
    * same (signal, id) struct order as [[preferencePairs]]' chosen
    * side, so bestOfN(k = 1) selects EXACTLY the chosen candidate on
    * every prompt that forms a pair (agreement law, spec-pinned) and
    * additionally emits the single-candidate and zero-margin prompts a
    * pair cannot (rejection sampling keeps the best available answer;
    * it does not need a contrast). Null signals are excluded as
    * everywhere in the family; NaN fails loud BEFORE selection for the
    * same reason as [[preferencePairs]] (it would always rank first).
    *
    * Scale shape: one window per prompt — rank-then-filter plans as
    * WindowGroupLimit (each partition keeps a running top-k BEFORE the
    * shuffle, so the exchange carries ≤ k·P candidate rows per prompt,
    * not the viral prompt's millions; pinned in PlanGuard). Top-k
    * inherently needs per-group order, so the O(1)-state agg trick of
    * [[preferencePairs]] does not apply — the group-limit pushdown is
    * the scale story instead.
    *
    * @return (promptCol, rank [1-based], candCol, contentCol,
    *         signalCol, n_candidates)
    */
  def bestOfN(
      responses: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = signalGated(responses, signalCol, "bestOfN",
      "a NaN would always rank first")
    // n_candidates comes from a hash agg + join-back, NOT a second
    // window over the same partition key: InferWindowGroupLimit only
    // rewrites a Filter sitting DIRECTLY on a rank-only Window (a count
    // over group-limit-pruned partitions would be wrong, so the rule
    // refuses mixed windows), and losing that rewrite puts the viral
    // prompt's full candidate list through the exchange. The base is
    // LINEAGE-CUT because it now fans out twice (rank + counts) and is
    // typically a whole gate chain.
    val cut = graft.ops.CacheScope.cut(base)
    val counts = cut.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy(col(promptCol))
      .orderBy(col(signalCol).desc, col(candCol).desc)
    cut
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .join(counts, Seq(promptCol))
      .select(col(promptCol), col("rank"), col(candCol), col(contentCol),
        col(signalCol), col("n_candidates"))
  }

  /** [[bestOfN]] with the q155 gates applied CANDIDATE-LEVEL — the
    * [[gatedGroupAdvantages]] law, not [[gatedPreferencePairs]]' pair
    * law: a best-of-n selection is re-rankable — removing a leaky or
    * invalid-dialogue candidate promotes the next-best SURVIVOR
    * (gating before selection is the point: a benchmark-leaking answer
    * must not occupy a top-k slot, and unlike a pair there is no
    * second side whose judgment the re-ranking would corrupt). A
    * prompt whose candidates are all gated emits nothing.
    */
  def gatedBestOfN(
      responses: DataFrame,
      invalidCands: DataFrame,
      holdout: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      k: Int,
      contamGramN: Int = 3): DataFrame = {
    val leaky = Dedup.decontaminate(
      responses.select(col(candCol), col(contentCol)),
      holdout, candCol, contentCol, contamGramN)
      .select(col(candCol))
    val survivors = responses.join(
      leaky.unionByName(invalidCands.select(col(candCol))).distinct(),
      Seq(candCol), "left_anti")
    bestOfN(survivors, promptCol, candCol, contentCol, signalCol, k)
  }

  /** The MASKED-SEQUENCE export of a [[bestOfN]] selection — each
    * selected candidate as ONE training sample: a two-turn dialogue
    * (turn 0 the prompt text, loss mask 0; turn 1 the candidate's
    * response, mask 1 — exactly [[preferenceSequences]]' side
    * convention, so a RFT/distillation run and a DPO run share one
    * loader format), encoded and packed by the q151 chain. The sample
    * key IS the candidate id (a candidate is one log row — already
    * unique; no side tag to pack), and turn ids pack fail-loud as
    * candidate·2 + turn.
    *
    * The [[pairSideStream]] contracts carry over verbatim: promptTexts
    * uniqueness (eager), coverage (left join + assert), and the
    * no-zero-token-sample law ([[sftTokenStream]]'s AQE-proof guard
    * branch).
    *
    * @return [[graft.scale.ShardPack.materializeSequencesWithMask]]'s
    *         frame: (bin, n_tokens, n_docs, n_doc_starts, token_ids,
    *         mask)
    */
  def bestOfNSequences(
      selected: DataFrame,
      promptTexts: DataFrame,
      promptCol: String,
      promptTextCol: String,
      candCol: String,
      contentCol: String,
      merges: Seq[Bpe.Merge],
      seqLen: Long): DataFrame = {
    graft.ops.EagerContracts.requireUniqueKeys(promptTexts, promptCol,
      "bestOfNSequences",
      "each would double its samples' turns with colliding ids")
    val textType = promptTexts.schema(promptTextCol).dataType
    // the same LINEAGE-CUT fan-out boundary as pairSideStream: the
    // selection (window over the gate chain) feeds two turn branches
    val withText = graft.ops.CacheScope.cut(
      selected.join(promptTexts, Seq(promptCol), "left")
        .withColumn(promptTextCol, coalesce(col(promptTextCol),
          assert_true(lit(false),
            lit("bestOfNSequences: a selected candidate's prompt is " +
              "missing from promptTexts — its sample would silently " +
              "vanish")).cast(textType))))
    // guard FIRST (the codegen null-short-circuit rule)
    val sid = coalesce(
        assert_true(col(candCol).cast("long")
          .between(0L, Long.MaxValue / 2 - 1),
          lit(s"bestOfNSequences: $candCol out of turn-id packing range " +
            "(need 0 <= id < 2^62 so turn ids fit a long)")).cast("long"),
        lit(0L)) +
      col(candCol).cast("long")
    val turns = withText.select(sid.as("sample_id"), lit(0L).as("t"),
        (sid * 2L).as("i"), lit("prompt").as("role"),
        col(promptTextCol).as("content"))
      .unionByName(withText.select(sid.as("sample_id"), lit(1L).as("t"),
        (sid * 2L + 1L).as("i"), lit("response").as("role"),
        col(contentCol).as("content")))
    ShardPack.materializeSequencesWithMask(
      sftTokenStream(
        turns, "sample_id", "t", "i", "role", "content", merges,
        maskRoles = Set("response"), requireNonEmptyDialogues = true),
      "sample_id", "mask", seqLen)
  }

  /** The K7-style stage report for [[gatedBestOfN]] — gradeable
    * candidates in, dropped per gate (validity first, then leakage
    * among the valid — the [[preferencePairCounters]] staging), kept,
    * and finally SELECTED (Σ min(k, survivors) over prompts). total =
    * invalid + contaminated_valid + kept and selected ≤ kept
    * (conservation laws, spec-pinned); an empty export reads as "zero
    * selected because N leaked", never as a silently-empty frame.
    *
    * @return (stage, n): candidates_total / candidates_invalid /
    *         candidates_contaminated_valid / candidates_kept /
    *         candidates_selected
    */
  def bestOfNCounters(
      responses: DataFrame,
      invalidCands: DataFrame,
      holdout: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      k: Int,
      contamGramN: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val graded = graft.ops.CacheScope.persisted(
      responses.filter(col(signalCol).isNotNull)
        .select(col(promptCol), col(candCol), col(contentCol)))
    val invalid = graft.ops.CacheScope.persisted(
      graded.join(invalidCands.select(col(candCol)), Seq(candCol), "left_semi"))
    val leakyValid = graft.ops.CacheScope.persisted(
      graded.join(invalidCands.select(col(candCol)), Seq(candCol), "left_anti")
        .join(
          Dedup.decontaminate(
            graded.select(col(candCol), col(contentCol)),
            holdout, candCol, contentCol, contamGramN)
            .select(col(candCol)),
          Seq(candCol), "left_semi"))
    val kept = graded
      .join(invalid.select(col(candCol)), Seq(candCol), "left_anti")
      .join(leakyValid.select(col(candCol)), Seq(candCol), "left_anti")
    def cnt(stage: String, df: DataFrame) =
      df.agg(count(lit(1)).cast("long").as("n"))
        .select(lit(stage).as("stage"), col("n"))
    cnt("candidates_total", graded)
      .unionByName(cnt("candidates_invalid", invalid))
      .unionByName(cnt("candidates_contaminated_valid", leakyValid))
      .unionByName(cnt("candidates_kept", kept))
      .unionByName(
        kept.groupBy(col(promptCol)).agg(count(lit(1)).as("__n"))
          .agg(coalesce(sum(least(col("__n"), lit(k.toLong))), lit(0L)).as("n"))
          .select(lit("candidates_selected").as("stage"), col("n")))
  }

  /** The per-token masked stream of a preference-pair frame's sides —
    * the shared front half of [[preferenceSequences]] and
    * [[preferenceTensors]]: each side as a two-turn dialogue keyed by
    * side_id = candidate·2 + side, encoded via [[sftTokenStream]].
    *
    * Three contracts are enforced fail-loud: promptTexts UNIQUENESS
    * per prompt (one cheap eager agg over the text frame alone — a dup
    * key would double its pairs' turns with colliding ids),
    * promptTexts COVERAGE (left join + null-text assert — an inner
    * join would silently vanish uncovered pairs), and the
    * NO-ZERO-TOKEN-SIDE law (side-universe left join — a side with no
    * tokenizable content would otherwise silently vanish from any
    * layout while its partner materializes alone).
    *
    * @return (side_id, tok_idx, token_id, mask)
    */
  def pairSideStream(
      pairs: DataFrame,
      promptTexts: DataFrame,
      promptCol: String,
      promptTextCol: String,
      merges: Seq[Bpe.Merge]): DataFrame = {
    // promptTexts must be UNIQUE per prompt: a duplicate key would emit
    // every side's turns twice with COLLIDING turn ids (doubled counts,
    // corrupted tok_idx). Prompt-count-sized frame — the EagerContracts
    // cost statement; eager is the only guard a join fan-out can't skip.
    graft.ops.EagerContracts.requireUniqueKeys(promptTexts, promptCol,
      "pairSideStream",
      "each would double its pairs' turns with colliding ids")
    val textType = promptTexts.schema(promptTextCol).dataType
    // LINEAGE-CUT, not just persisted: the pair frame fans out FOUR
    // ways (2 sides × 2 turns) — without a cache the caller's whole
    // upstream (typically the full gate chain: decontaminate + validity
    // anti-joins) recomputes per branch (measured 19.3 → ~6 s on q161
    // at sf0.1), and with a PLAIN persist every downstream reference
    // still re-ANALYZES the gate chain's logical tree (the r17
    // fan-out plan-blowup measurement: the guard union branch alone
    // cost +34% wall on q161 before the cut). Pair-count slim rows.
    // LEFT join + null-text assert: an inner join would
    // silently VANISH every pair whose prompt is missing from
    // promptTexts — silent training-data loss.
    val withText = graft.ops.CacheScope.cut(
      pairs.join(promptTexts, Seq(promptCol), "left")
        .withColumn(promptTextCol, coalesce(col(promptTextCol),
          assert_true(lit(false),
            lit("pairSideStream: a pair's prompt is missing from " +
              "promptTexts — its sides would silently vanish"))
            .cast(textType))))
    val sideTurns = (idC: String, contentC: String, sideTag: Long) => {
      // guard FIRST: a right-hand guard is skipped by codegen's
      // null-short-circuit when the id cast is null (non-numeric id)
      val sid = coalesce(
          assert_true(col(idC).cast("long")
            .between(0L, Long.MaxValue / 4 - 1),
            lit(s"pairSideStream: $idC out of side_id packing range " +
              "(need 0 <= id < 2^61 so turn ids fit a long too)")).cast("long"),
          lit(0L)) +
        col(idC).cast("long") * 2L + sideTag
      // two turns per side: the prompt (mask 0), then the response;
      // turn id = side_id·2 + turn — the globally unique per-turn key
      // sftTokenStream's encode join requires
      withText.select(sid.as("side_id"), lit(0L).as("t"),
          (sid * 2L).as("i"), lit("prompt").as("role"),
          col(promptTextCol).as("content"))
        .unionByName(withText.select(sid.as("side_id"), lit(1L).as("t"),
          (sid * 2L + 1L).as("i"), lit("response").as("role"),
          col(contentC).as("content")))
    }
    val turns = sideTurns("chosen_id", "chosen_content", 0L)
      .unionByName(sideTurns("rejected_id", "rejected_content", 1L))
    // zero-token sides fail loud via the stream's own guard union
    // branch (requireNonEmptyDialogues — AQE-proof even when EVERY side
    // is zero-token): a side whose turns tokenize to no [a-z0-9] runs
    // would otherwise emit no rows and silently vanish from any
    // downstream layout while its partner materializes alone — the
    // corrupted-pair class. The branch's extra turns scan reads the
    // PERSISTED withText frame, so it costs one slim agg, not a
    // gate-chain recompute. (Both a separate universe join and an
    // eager count were measured ~2x wall: each duplicates this plan's
    // gate-chain subtree or pays per-action driver re-analysis.)
    sftTokenStream(
      turns, "side_id", "t", "i", "role", "content", merges,
      maskRoles = Set("response"), requireNonEmptyDialogues = true)
  }

  /** SFT LOSS-MASK SPANS — per-turn token coordinates inside packed
    * training sequences: which (sequence, local_start, span_len) range
    * belongs to which turn/role, the metadata an SFT formatter consumes
    * to mask loss to the turns it trains on. Dialogues are the packing
    * unit — the [[graft.scale.ShardPack.packSequences]] contract with
    * dialogues as docs (global md5(dlg) order, dialogues split across
    * fixed-length sequences, every non-terminal sequence exactly full)
    * — and turns tile their dialogue in (ts, id) order, so the emitted
    * spans tile every sequence exactly (reconstruction law,
    * spec-pinned).
    *
    * `turns` is one row per turn: a NUMERIC dialogue id (the
    * packWithOffsets contract — e.g. key·span + session_seq, packed
    * fail-loud by the caller), the turn-order columns, the role, and
    * the turn's token count (e.g. [[graft.scale.Bpe.tokenCounts]] of
    * the turn text). Zero-token turns emit no span but KEEP their turn
    * index (count-0-by-omission, the packSequences rule).
    *
    * Scale shape: one per-dialogue window (dialogues are the partition
    * unit — a dialogue's turn list, never the corpus), the two-phase
    * prefix sum over the dialogue-count frame, then a scan-pure bin
    * explode. No shuffle beyond the pack's own.
    *
    * @return (dlgCol, turn, roleCol, sequence, local_start, span_len,
    *         is_continuation)
    */
  def lossMaskSpans(
      turns: DataFrame,
      dlgCol: String,
      tsCol: String,
      idCol: String,
      roleCol: String,
      tokensCol: String,
      seqLen: Long,
      numPartitions: Int = 32): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = Window.partitionBy(col(dlgCol)).orderBy(col(tsCol), col(idCol))
    val turnFrame = turns
      .withColumn("__n", coalesce(col(tokensCol).cast("long"), lit(0L)))
      .withColumn("turn", (row_number().over(w) - 1).cast("long"))
      .withColumn("turn_start",
        coalesce(sum(col("__n"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val dlgCounts = turns.groupBy(col(dlgCol))
      .agg(sum(coalesce(col(tokensCol).cast("long"), lit(0L))).as("n_tokens"))
    val offsets = ShardPack
      .packWithOffsets(dlgCounts, dlgCol, "n_tokens", numPartitions)
      .select(col(dlgCol), col("start"))
    turnFrame
      .join(offsets, Seq(dlgCol))
      .filter(col("__n") > 0)
      .withColumn("gstart", col("start") + col("turn_start"))
      .withColumn("gend", col("gstart") + col("__n"))
      .withColumn("first_bin", expr(s"gstart div ${seqLen}L"))
      .withColumn("last_bin", expr(s"(gend - 1) div ${seqLen}L"))
      .select(col(dlgCol), col("turn"), col(roleCol),
        explode(sequence(col("first_bin"), col("last_bin"))).as("sequence"),
        col("first_bin"), col("gstart"), col("gend"))
      .withColumn("local_start",
        greatest(col("gstart") - col("sequence") * seqLen, lit(0L)))
      .withColumn("span_len",
        least((col("sequence") + 1) * seqLen, col("gend")) -
          greatest(col("sequence") * seqLen, col("gstart")))
      .withColumn("is_continuation", col("sequence") > col("first_bin"))
      .select(col(dlgCol), col("turn"), col(roleCol), col("sequence"),
        col("local_start"), col("span_len"), col("is_continuation"))
  }
}
