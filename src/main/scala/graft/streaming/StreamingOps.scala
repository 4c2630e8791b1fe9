package graft.streaming

import graft.scale.{Retrieval, TextStats}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming operators over an events-shaped stream
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference is a daily batch with CDC-vs-snapshot semantics
  * (SURVEY §2.10: no streaming for parity) — these operators are the
  * forward-looking streaming surface of the engine: the same
  * aggregation shapes (counter buckets K7, newest-wins A3, per-entity
  * running merge) expressed as incremental plans. `readStream` on the
  * same parquet layout turns any batch query here into a continuous
  * one; watermarks bound state so a 100 TB/day stream doesn't grow
  * executor state without bound.
  *
  * A batch operator that is per-row work or one Spark aggregate runs on
  * a stream unchanged (`chunkByTokens`, `Bpe.encode`, `CmsSketch`,
  * `preferencePairs`, `feedbackClassCounts`, `turnSignalReduce`,
  * `tokenBucketCounts`; StreamingOpsSpec pins each stream == batch), so
  * it has no twin here. The twins here need what a batch plan cannot
  * give a stream: watermarked or keyed close state, or a per-row fold
  * against a driver-collected model where the batch operator joins —
  * and those folds build their rows from the batch operator's own
  * Column kernel.
  */
object StreamingOps {

  /** A row with an event time: what [[closeOnSilence]] groups. */
  trait Timed { def ts: java.sql.Timestamp }

  final case class Event(eventId: Long, ts: java.sql.Timestamp, userId: Long,
      eventType: String, value: Double) extends Timed

  final case class UserState(nEvents: Long, total: Double, lastTs: Long)

  final case class UserUpdate(userId: Long, nEvents: Long, total: Double, lastTs: Long)

  /** Tumbling-window event-type counts with a watermark: the streaming
    * form of the counter-bucket aggregation (q11/K7). Late rows beyond
    * the watermark are dropped and their window state is reclaimed.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "10 minutes",
      watermarkDelay: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Per-user running totals via mapGroupsWithState — the streaming
    * form of the per-entity accumulator collections (A5-A7 shape:
    * state merged per key across arrivals). No timeout is set: each
    * user's state is kept for the life of the query, so this fits a
    * bounded user keyspace; the [[closeOnSilence]] closers below are
    * the evicting forms.
    */
  def userRunningTotals(events: Dataset[Event]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .mapGroupsWithState[UserState, UserUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0d, Long.MinValue))
          val next = rows.foldLeft(prev) { (s, e) =>
            UserState(s.nEvents + 1, s.total + e.value, math.max(s.lastTs, e.ts.getTime))
          }
          state.update(next)
          UserUpdate(userId, next.nEvents, next.total, next.lastTs)
      }
  }

  /** A key's open state and the newest event time seen for it — the
    * state [[closeOnSilence]] keeps per key. Public because the state
    * codec's generated code calls its accessors.
    */
  final case class Held[S](s: S, lastSeen: Long)

  /** The event-time close protocol, the one kernel of every keyed
    * closer here ([[sessionize]], [[dialogueQcStream]] and the four
    * `*FinalStream` eviction twins). Per key, state lives while events
    * arrive; once the key has been silent for `horizonMs` of event time
    * past its newest event and the watermark passes that point, the
    * key CLOSES: `close` emits its final row (or none) ONCE, append
    * mode, and the state is removed. An unbounded keyspace thus holds
    * state only for the keys inside the horizon. A row arriving after
    * its key closed, but inside the watermark's allowed lateness,
    * REOPENS the key as a fresh group; rows older than the watermark
    * drop before any fold.
    *
    * The kernel owns the protocol; a caller owns its typed projection
    * (with a `ts` event-time column), its input guards, its fold and
    * its close-time emit.
    *   - Rows with a NULL event time are dropped: they can neither set
    *     a timeout nor compare to the watermark. Each closer's law
    *     quantifies over the rows that carry an event time.
    *   - `fold` takes the key's open state (None for a fresh group) and
    *     the micro-batch's rows, and returns the new open state plus
    *     any rows it closed mid-batch (the gap closers do; the
    *     quiescence twins never do). It must consume `rows` before it
    *     returns: the kernel reads the newest event time off them.
    *   - The timeout is `max(lastSeen + horizonMs, watermark + 1)`:
    *     Spark refuses a timeout at or below the current watermark,
    *     which an almost-late row would otherwise ask for.
    */
  private def closeOnSilence[K: Encoder, E <: Timed, S: TypeTag, O: Encoder](
      rows: Dataset[E], horizonMs: Long, watermarkDelay: String)(
      key: E => K,
      fold: (K, Option[S], Iterator[E]) => (S, Iterator[O]),
      close: (K, S) => Option[O]): Dataset[O] = {
    require(horizonMs > 0, s"gapMs / quiesceMs must be positive, got $horizonMs")
    import rows.sparkSession.implicits._
    rows
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(key)
      .flatMapGroupsWithState[Held[S], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: K, batch: Iterator[E], state: GroupState[Held[S]]) =>
          if (state.hasTimedOut) {
            val held = state.get
            state.remove()
            close(k, held.s).iterator
          } else {
            val prev = state.getOption
            var lastSeen = prev.fold(Long.MinValue)(_.lastSeen)
            val (s, closed) = fold(k, prev.map(_.s),
              batch.map { e => lastSeen = math.max(lastSeen, e.ts.getTime); e })
            state.update(Held(s, lastSeen))
            state.setTimeoutTimestamp(
              math.max(lastSeen + horizonMs, state.getCurrentWatermarkMs() + 1L))
            closed
          }
      }
  }

  /** An open session's event-time span: what the gap closers' fold reads. */
  trait Span { def end: Long }

  final case class SessionState(start: Long, end: Long, n: Long, total: Double) extends Span

  final case class SessionOut(userId: Long, sessionStart: Long, sessionEnd: Long,
      nEvents: Long, totalValue: Double)

  final case class DialogueQcState(start: Long, end: Long, nTurns: Long,
      roles: Seq[String], lastRole: String, violations: Long) extends Span

  final case class DialogueQcOut(userId: Long, sessionStart: Long, sessionEnd: Long,
      nTurns: Long, nRoles: Long, nAlternationViolations: Long,
      validDialogue: Boolean)

  /** The gap closers' one fold, on [[closeOnSilence]] with horizon
    * `gapMs` and a fixed 10-minute watermark: a micro-batch's rows sort
    * by (ts, eventId), the batch window order, and a row more than
    * `gapMs` past the open session's end closes that session mid-batch
    * (emitted at once) and opens the next. `open` starts a session on a
    * row, `extend` adds a row to an open one. A row closes a session
    * only by opening a later one, so the open session always ends at
    * the newest event time seen for the user: the kernel's timeout is
    * that session's own gap timeout.
    */
  private def closeGaps[S <: Span : TypeTag, O: Encoder](events: Dataset[Event], gapMs: Long)(
      open: Event => S, extend: (S, Event) => S, emit: (Long, S) => O): Dataset[O] = {
    import events.sparkSession.implicits._
    closeOnSilence[Long, Event, S, O](events, gapMs, "10 minutes")(_.userId,
      (userId, prev, rows) => {
        val closed = scala.collection.mutable.ArrayBuffer[O]()
        var cur = prev
        rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
          cur = Some(cur match {
            case Some(s) if e.ts.getTime - s.end <= gapMs => extend(s, e)
            case Some(s) => closed += emit(userId, s); open(e)
            case None => open(e)
          })
        }
        (cur.get, closed.iterator)
      },
      (userId, s) => Some(emit(userId, s)))
  }

  /** Gap-based sessionization: events from one user belong to the same
    * session while consecutive arrivals are within `gapMs` of each
    * other (event time); a longer silence CLOSES the session, which is
    * then emitted and the state restarts. The [[closeOnSilence]]
    * timeout flushes the final open session when the watermark passes
    * it — state never grows without bound. Rows with a null `ts` are
    * dropped.
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    closeGaps[SessionState, SessionOut](events, gapMs)(
      e => SessionState(e.ts.getTime, e.ts.getTime, 1, e.value),
      (s, e) => SessionState(s.start, math.max(s.end, e.ts.getTime), s.n + 1, s.total + e.value),
      (userId, s) => SessionOut(userId, s.start, s.end, s.n, s.total))
  }

  /** Streaming DIALOGUE QC — the continuous twin of
    * [[graft.scale.Dialogue.dialogueStats]] (q144): dialogues close by
    * gap or watermark timeout exactly as [[sessionize]], and each
    * closed dialogue emits its chat-template QC row (turn count,
    * distinct roles, same-role alternation violations, validity) the
    * moment it closes — a curation team sees a bad logging deploy
    * within one watermark horizon instead of at the next batch run.
    *
    * State per user is ONE open dialogue's summary: start/end, counts,
    * the last role (the only order-dependent piece — within a
    * micro-batch rows sort by (ts, id), matching the batch window
    * order), and the dialogue's distinct role list (bounded by the
    * role vocabulary — event types here, a handful by contract; the
    * state never holds turns). Late events beyond the watermark and
    * rows with a null `ts` drop, the same contract as [[sessionize]].
    * stream == batch pinned on a replayed slice.
    *
    * ORDERING CONTRACT (weaker than a blanket "stream == batch"): the
    * batch equivalence holds when each dialogue's turns arrive in one
    * micro-batch, or across batches in (ts, id) order. An in-watermark
    * late event landing in a LATER batch is folded in arrival order —
    * the lastRole comparison (violations) and sessionStart (never
    * lowered below the first-seen ts) can then diverge from the batch
    * [[graft.scale.Dialogue.dialogueStats]], because a summary state
    * cannot re-sort turns it no longer holds. Sources that can reorder
    * within the watermark should pre-sort per key upstream (e.g. a
    * Kafka key = user partitioning preserves per-key order by
    * construction, the production deployment shape).
    */
  def dialogueQcStream(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L): Dataset[DialogueQcOut] = {
    import events.sparkSession.implicits._
    closeGaps[DialogueQcState, DialogueQcOut](events, gapMs)(
      e => DialogueQcState(e.ts.getTime, e.ts.getTime, 1L, Seq(e.eventType), e.eventType, 0L),
      (s, e) => DialogueQcState(s.start, math.max(s.end, e.ts.getTime), s.nTurns + 1,
        if (s.roles.contains(e.eventType)) s.roles else s.roles :+ e.eventType,
        e.eventType, s.violations + (if (s.lastRole == e.eventType) 1L else 0L)),
      (userId, s) => DialogueQcOut(userId, s.start, s.end, s.nTurns, s.roles.size.toLong,
        s.violations, s.violations == 0L))
  }

  /** The streaming newest-wins head (A3/q10 shape): latest event per
    * user in each micro-batch epoch, intended for `update` output mode
    * into an upsert sink — the continuous version of the CDC merge.
    */
  def latestPerUser(events: DataFrame, watermarkDelay: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("latest"))
      .select(
        col("user_id"),
        col("latest.ts").as("last_ts"),
        col("latest.event_id").as("last_event_id"),
        col("latest.value").as("last_value"))

  /** Streaming exact-dedup — the continuous form of the q16 hash-dedup:
    * an arriving document drops if a document with the same content
    * fingerprint (md5 of normalized text, [[graft.scale.TextStats
    * .fingerprint]]) was already seen within the watermark horizon.
    *
    * `dropDuplicatesWithinWatermark` is what makes this 100 TB-safe:
    * state holds only the horizon's fingerprints and the watermark
    * EVICTS older ones, where a plain streaming `dropDuplicates` would
    * accumulate every fingerprint ever seen until the executors OOM.
    * The horizon is the semantic knob: duplicates farther apart than
    * `watermarkDelay` pass — cross-horizon dedup belongs to the batch
    * path (q16 / q56's corpus index) downstream.
    */
  def dedupStream(
      docs: DataFrame,
      tsCol: String = "ts",
      textCol: String = "text",
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fingerprint", TextStats.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming decontamination — the continuous form of q68's
    * [[graft.scale.Dedup.decontaminate]]: flag arriving documents that
    * share any word n-gram with a static benchmark set.
    *
    * Deliberately STATELESS: a document arrives whole in one row, so
    * contamination is decidable per-row — the benchmark's distinct
    * grams collect to the driver once (the SAME driver-sized regime as
    * the batch operator's broadcast; a benchmark too big for this goes
    * to the Bloom regime) and the probe is a codegen'd
    * `array_intersect` against the shingle set, no watermark, no state
    * store, no shuffle. `n_hits` = distinct shared grams — identical to
    * the batch operator's count (StreamingOpsSpec pins equality).
    */
  def decontaminateStream(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    import graft.scale.Dedup
    val grams = benchmark
      .select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    docs
      .select(
        col(idCol),
        size(array_intersect(Dedup.shingles(col(textCol), n), typedlit(grams)))
          .cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** Streaming classifier serving — score an arriving document stream
    * with a TRAINED hashed-feature linear model (the continuous form of
    * [[graft.scale.TextStats.scoreWithWeights]], fed by
    * `perceptronTrain`'s (feature_id, weight) output frozen at stream
    * start). STATELESS by the same argument as [[decontaminateStream]]:
    * a document arrives whole, its margin is a per-row fold of its own
    * tokens against the dim-bounded weight map (driver-sized by
    * contract — `dim` ≤ 2^20 and in practice tiny; the batch operator
    * broadcast-joins it instead) — no watermark, no state store, no
    * shuffle. The token array is the batch operator's
    * ([[graft.scale.TextStats.spaceTokens]], empty strings dropped),
    * and integer weights keep the margin bit-identical to it
    * (StreamingOpsSpec pins equality). Model refresh = restart the
    * query with a new snapshot, the standard frozen-model serving
    * contract.
    */
  def classifyStream(
      docs: DataFrame,
      weights: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 64): DataFrame = {
    val w: Map[Long, Long] = weights
      .select(col("feature_id").cast("long"), col("weight").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wMap = typedlit(w)
    docs
      .select(col(idCol),
        filter(TextStats.spaceTokens(col(textCol)), t => length(t) > 0).as("toks"))
      // token-less documents emit NO row, matching the batch operator
      // exactly (scoreWithWeights' explode+filter leaves them rowless)
      .filter(size(col("toks")) > 0)
      .select(col(idCol),
        aggregate(col("toks"), lit(0L),
          (acc, t) =>
            acc + coalesce(element_at(wMap, TextStats.hashBucket(t, dim)), lit(0L)))
          .as("margin"))
      .withColumn("label", (col("margin") > 0).cast("long"))
  }

  /** Streaming LM-surprisal scoring — the continuous serving form of
    * `TextStats.surprisalWithModel` (an in-domain reference corpus
    * trains `TextStats.bigramModel` once; arriving documents score
    * against the frozen snapshot). STATELESS by the [[classifyStream]]
    * argument: a document arrives whole, its score is a per-row fold of
    * its own bigrams (the batch operator's
    * [[graft.scale.TextStats.bigrams]] kernel over the
    * [[graft.scale.TextStats.words]] array) against the collected model
    * map, where the batch operator joins (driver-sized by contract — a
    * corpus-trained bigram model is vocabulary-bounded and
    * Zipf-concentrated; cap it with a min-count floor upstream when it
    * isn't). Bigrams absent from the model don't score and docs with no
    * known bigram emit NO row — exactly the batch operator's inner-join
    * semantics (StreamingOpsSpec pins stream == batch). Integer sums
    * keep the margin bit-identical.
    */
  def surprisalStream(
      docs: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val m: Map[String, Long] = model
      .select(col("w1"), col("w2"), col("surp").cast("long"))
      .collect().map(r => (r.getString(0) + "\u0000" + r.getString(1)) -> r.getLong(2))
      .toMap
    val mMap = typedlit(m)
    docs
      .select(col(idCol), TextStats.words(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(idCol),
        filter(
          transform(TextStats.bigrams(col("t")),
            bg => concat(bg("w1"), lit("\u0000"), bg("w2"))),
          k => element_at(mMap, k).isNotNull).as("known"))
      .filter(size(col("known")) > 0)
      .select(
        col(idCol),
        aggregate(col("known"), lit(0L),
          (acc, k) => acc + element_at(mMap, k)).as("total_surp"),
        size(col("known")).cast("long").as("n_bigrams"))
      .withColumn("avg_surp", expr("total_surp div n_bigrams"))
  }

  /** Streaming retrieval — STANDING QUERIES over a document stream
    * (the alerting/routing form of q90's [[graft.scale.Retrieval]]:
    * "tell me when a document matching this benchmark prompt
    * arrives"). A static index snapshot supplies the per-(query, term)
    * integer idf weights and the corpus `avgdl`; each arriving
    * document is scored per-row with the batch operator's integer-milli
    * BM25 kernel ([[graft.scale.Retrieval.bm25TfSatMilli]]) — tf from its
    * own [[graft.scale.TextStats.words]] array, saturation from its own
    * length — so the operator is STATELESS: no watermark, no state
    * store, no shuffle, and the scores equal the batch operator's
    * under the same frozen stats (StreamingOpsSpec pins equality).
    *
    * The standing query set is driver-sized by contract (the same
    * regime as [[decontaminateStream]]'s collected grams): each
    * (query, term, idf) becomes a codegen'd filter/count over the
    * token array. Emits one row per (document, query) with at least
    * one matched term: (idCol, query_id, score).
    */
  def retrieveStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTermWeights: Seq[(Long, String, Long)],
      avgdl: Long): DataFrame = {
    require(avgdl >= 1, s"avgdl must be >= 1, got $avgdl")
    require(queryTermWeights.nonEmpty, "standing query set is empty")
    val withToks = docs
      .withColumn("toks", TextStats.words(col(textCol)))
      .withColumn("dl", size(col("toks")).cast("long"))
    val hits = queryTermWeights.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (qid, ws) =>
        val (scores, tfs) = ws.sortBy(_._2).map { case (_, term, idfMilli) =>
          val tf = size(filter(col("toks"), x => x === lit(term))).cast("long")
          (lit(idfMilli) * Retrieval.bm25TfSatMilli(tf, col("dl"), lit(avgdl)), tf)
        }.unzip
        struct(
          lit(qid).as("query_id"),
          scores.reduce(_ + _).as("score"),
          (tfs.reduce(_ + _) > 0).as("matched"))
    }
    withToks
      .withColumn("hit", explode(array(hits: _*)))
      .filter(col("hit.matched"))
      .select(col(idCol), col("hit.query_id").as("query_id"), col("hit.score").as("score"))
  }

  /** Streaming AS-OF enrichment — each arriving left event picks up
    * the most recent right row at or before its timestamp from a
    * FROZEN right frame (the stream-static form of
    * [[graft.ops.AsOfJoin.asOfAll]]: prices/dimensions snapshot at
    * stream start, events enrich continuously). STATELESS per row: the
    * right side packs to one sorted (ts, payload…) array per key
    * (dim-sized by contract — it rides a stream-static broadcast
    * join), and the match is "last array element with ts <= event ts",
    * which under the (ts, payload) lexicographic sort is exactly the
    * batch sweep's equal-ts max-payload winner. Unmatched events keep
    * null payloads (left-join semantics). StreamingOpsSpec pins
    * stream == batch on a replayed events slice.
    */
  def asOfStream(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      leftIdCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "payloadCols must be non-empty")
    val packed = right
      .select(col(keyCol),
        struct(col(tsCol).as("ts") +: payloadCols.map(col): _*).as("e"))
      .groupBy(keyCol)
      .agg(sort_array(collect_list(col("e"))).as("arr"))
    left
      .join(packed, Seq(keyCol), "left")
      .withColumn("f",
        filter(col("arr"), e => e.getField("ts") <= col(tsCol)))
      .withColumn("m",
        when(size(col("f")) > 0, element_at(col("f"), size(col("f")))))
      .select(
        col(leftIdCol) +: col(keyCol) +: col(tsCol) +:
          payloadCols.map(c => col("m").getField(c).as(s"asof_$c")): _*)
  }

  /** One graded response with its event time — the typed row
    * [[preferencePairsFinalStream]]'s state machine consumes. candId
    * and content are Options: the BATCH operator tolerates null ids
    * and null content (they ride the comparison struct with Spark's
    * null-smallest field order), so the stream must too — a primitive
    * field would kill the encoder on exactly those rows.
    */
  final case class GradedResponse(prompt: String, candId: Option[Long],
      content: Option[String], signal: Double, ts: java.sql.Timestamp) extends Timed

  /** Per-prompt running pair state: candidate count and the running
    * (signal, id, content)-max and -min candidates — the batch
    * operator's O(1) agg state made explicit.
    */
  final case class PairState(n: Long,
      chS: Double, chI: Option[Long], chC: Option[String],
      rjS: Double, rjI: Option[Long], rjC: Option[String])

  final case class FinalPair(prompt: String, n_candidates: Long,
      chosen_id: Option[Long], chosen_signal: Double,
      chosen_content: Option[String],
      rejected_id: Option[Long], rejected_signal: Double,
      rejected_content: Option[String],
      margin: Double)

  // the batch struct order, exactly: (signal, id, content) compared
  // field by field with NULL SMALLEST (Spark's struct ordering) and
  // content as UTF-8 BYTES (Spark's UTF8String order; Java's compareTo
  // is UTF-16 code-unit order and disagrees above U+FFFF)
  private def structGt(s1: Double, i1: Option[Long], c1: Option[String],
      s2: Double, i2: Option[Long], c2: Option[String]): Boolean = {
    if (s1 != s2) return s1 > s2
    (i1, i2) match {
      case (Some(a), Some(b)) if a != b => return a > b
      case (Some(_), None) => return true
      case (None, Some(_)) => return false
      case _ => ()
    }
    (c1, c2) match {
      case (Some(a), Some(b)) => utf8Gt(a, b)
      case (Some(_), None) => true
      case _ => false
    }
  }

  private def utf8Gt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d > 0
      i += 1
    }
    x.length > y.length
  }

  /** The EVICTING preference-pair assembler — the unbounded-keyspace
    * answer the live complete-mode form (the batch
    * [[graft.scale.Dialogue.preferencePairs]] run on a stream) cannot
    * give, on the [[closeOnSilence]] kernel with horizon `quiesceMs`: a prompt's
    * state lives only while the prompt is ACTIVE, its final
    * best-vs-worst pair is emitted ONCE at close (append mode,
    * delta-sized sink writes), and a row after the close reopens the
    * prompt as a fresh group.
    *
    * Emission semantics: the closed prompt's pair equals the BATCH
    * [[graft.scale.Dialogue.preferencePairs]] row over exactly the
    * rows that arrived before it closed (spec-pinned on a replayed
    * log): the state machine maintains the same (signal, id, content)
    * struct-max/min with the same strict-margin law (no-contrast
    * prompts close silently — they never had a pair), the same
    * null-signal exclusion, and the same NaN fail-loud. The one
    * documented divergence is the kernel's: rows with a NULL event
    * time are excluded.
    *
    * Per-prompt state is the batch agg's O(1) state made explicit:
    * two (signal, id, content) candidates plus a count —
    * content-sized like the batch struct state, but held only for
    * ACTIVE prompts and reclaimed on close.
    *
    * @return streaming [[graft.scale.Dialogue.preferencePairs]]-shaped
    *         frame, append-mode; one row per CLOSED prompt with a
    *         strict margin
    */
  def preferencePairsFinalStream(
      responses: DataFrame,
      promptCol: String,
      candCol: String,
      contentCol: String,
      signalCol: String,
      tsCol: String,
      quiesceMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = responses.sparkSession
    import spark.implicits._
    val typed = graft.scale.Dialogue.signalGated(
      responses, signalCol, "preferencePairsFinalStream",
      "a NaN would always win the pair")
      .select(
        col(promptCol).cast("string").as("prompt"),
        col(candCol).cast("long").as("candId"),
        col(contentCol).cast("string").as("content"),
        col(signalCol).cast("double").as("signal"),
        col(tsCol).as("ts"))
      .as[GradedResponse]
    closeOnSilence[String, GradedResponse, PairState, FinalPair](
        typed, quiesceMs, watermarkDelay)(_.prompt,
      (_, prev, rows) => {
        val s = rows.foldLeft(prev) {
          case (None, e) =>
            Some(PairState(1L, e.signal, e.candId, e.content, e.signal, e.candId, e.content))
          case (Some(s), e) =>
            val ch =
              if (structGt(e.signal, e.candId, e.content, s.chS, s.chI, s.chC))
                (e.signal, e.candId, e.content)
              else (s.chS, s.chI, s.chC)
            val rj =
              if (structGt(s.rjS, s.rjI, s.rjC, e.signal, e.candId, e.content))
                (e.signal, e.candId, e.content)
              else (s.rjS, s.rjI, s.rjC)
            Some(PairState(s.n + 1L, ch._1, ch._2, ch._3, rj._1, rj._2, rj._3))
        }
        (s.get, Iterator.empty)
      },
      // the batch strict-margin law: no contrast, no pair
      (prompt, s) => Option.when(s.chS > s.rjS)(FinalPair(prompt, s.n, s.chI, s.chS, s.chC,
        s.rjI, s.rjS, s.rjC, s.chS - s.rjS)))
      .toDF()
  }

  /** One graded response with its event time — the typed row the
    * feedback eviction machine consumes.
    */
  final case class FeedbackEvent(prompt: String, desirable: Boolean,
      ts: java.sql.Timestamp) extends Timed

  /** Per-prompt running class counts. */
  final case class FeedbackState(nd: Long, nu: Long)

  final case class FinalCounts(prompt: String, n_desirable: Long,
      n_undesirable: Long)

  /** The EVICTING feedback-balance monitor — the unbounded-keyspace
    * answer of the live complete-mode form (the batch
    * [[graft.scale.Dialogue.feedbackClassCounts]] run on a stream), on
    * the [[closeOnSilence]] kernel with horizon `quiesceMs`: a prompt's two
    * counter longs live only while the prompt is ACTIVE, and its final
    * (n_desirable, n_undesirable) row emits ONCE at close. The closed
    * row equals the complete-mode aggregation over exactly the rows
    * that arrived before the close (spec-pinned); null signals are
    * excluded and NaN fails loud exactly as in batch. The one
    * documented divergence is the kernel's: rows with a NULL event
    * time are excluded.
    *
    * @return streaming (prompt, n_desirable, n_undesirable),
    *         append-mode; one row per CLOSED prompt
    */
  def feedbackClassCountsFinalStream(
      responses: DataFrame,
      promptCol: String,
      signalCol: String,
      threshold: Double,
      tsCol: String,
      quiesceMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = responses.sparkSession
    import spark.implicits._
    val typed = graft.scale.Dialogue.signalGated(
      responses, signalCol, "feedbackClassCountsFinalStream",
      "it would silently count undesirable")
      .select(
        col(promptCol).cast("string").as("prompt"),
        (col(signalCol) >= lit(threshold)).as("desirable"),
        col(tsCol).as("ts"))
      .as[FeedbackEvent]
    closeOnSilence[String, FeedbackEvent, FeedbackState, FinalCounts](
        typed, quiesceMs, watermarkDelay)(_.prompt,
      (_, prev, rows) => (rows.foldLeft(prev.getOrElse(FeedbackState(0L, 0L))) { (s, e) =>
        if (e.desirable) s.copy(nd = s.nd + 1L) else s.copy(nu = s.nu + 1L)
      }, Iterator.empty),
      (prompt, s) => Some(FinalCounts(prompt, s.nd, s.nu)))
      .toDF()
  }

  /** One quantized per-turn reward with its event time — the typed row
    * the trajectory eviction machine consumes (the reward is ALREADY
    * milli-quantized in-plan: quantize-FIRST is the batch law, and the
    * state machine must fold the same integers).
    */
  final case class RewardEvent(grp: String, traj: Long, qMilli: Long,
      ts: java.sql.Timestamp) extends Timed

  /** Per-trajectory running (sum, count). The sum is
    * an exact DECIMAL, not a long — the batch decimal(38,0) analogue:
    * a long fold would fail on a TRANSIENT overflow (partials past
    * 2^63 whose final sum fits), and whether that happens would depend
    * on arrival order — breaking the closed == batch law on exactly
    * the inputs batch handles (the r19 self-review finding). Partials
    * are exact up to the state codec's 10^20 integral capacity
    * (Decimal(38,18)); past it the machine fails BY NAME.
    */
  final case class TrajState(sum: scala.math.BigDecimal, n: Long)

  final case class FinalSignal(grp: String, traj: Long,
      signal_milli: Long, n_reward_turns: Long)

  /** The EVICTING trajectory-signal reducer — the unbounded-keyspace
    * answer of the live complete-mode form (the batch
    * [[graft.scale.Dialogue.turnSignalReduce]] run on a stream), on the
    * [[closeOnSilence]] kernel with horizon `quiesceMs`: a (group,
    * trajectory)'s (sum, count) state is held only while the trajectory
    * is ACTIVE, and its final [[graft.scale.Dialogue.turnSignalReduce]]
    * row emits ONCE at close — a grading firehose holds state only for
    * dialogues inside the quiescence horizon. The closed row equals the
    * batch reduction over exactly the rows that arrived before the
    * close (spec-pinned): the same quantize-FIRST law (each reward
    * ⌊·1000⌋ in-plan, exact decimals fold in the state machine — see
    * [[TrajState]]), the same null-reward exclusion (an all-null
    * trajectory never opens state and closes silently, exactly the
    * batch omission), the same NaN fail-loud, and the same
    * final-sum-only long-cast guard — an overflowing trajectory fails
    * BY NAME at close, transient partials never fail where batch
    * succeeds. Two documented divergences from batch: the kernel's
    * exclusion of rows with a NULL event time, and a null or
    * non-long-castable TRAJECTORY KEY fails by name (batch
    * [[graft.scale.Dialogue.turnSignalReduce]] keeps a null-key group;
    * a long-keyed state machine cannot represent one, and silently
    * dropping it would hide a broken upstream id packing).
    *
    * @return streaming (grp, traj, signal_milli, n_reward_turns),
    *         append-mode; one row per CLOSED trajectory
    */
  def trajectorySignalFinalStream(
      turnRewards: DataFrame,
      groupCol: String,
      trajCol: String,
      rewardCol: String,
      tsCol: String,
      quiesceMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = turnRewards.sparkSession
    import spark.implicits._
    val typed = turnRewards
      .filter(col(rewardCol).isNotNull)
      .select(
        col(groupCol).cast("string").as("grp"),
        // a null (or non-long-castable) trajectory key fails BY NAME:
        // the eviction machine keys by a long, and an unguarded null
        // would surface as an anonymous non-nullable-encoder error —
        // the second documented batch divergence (batch turnSignalReduce
        // keeps a null-key group; a keyed state machine cannot)
        graft.ops.Guards.guardedLong(trajCol, "trajectorySignalFinalStream",
          "numeric trajectory key").as("traj"),
        graft.ops.Guards.quantizedMilli(rewardCol,
          "trajectorySignalFinalStream").as("qMilli"),
        col(tsCol).as("ts"))
      .as[RewardEvent]
    closeOnSilence[(String, Long), RewardEvent, TrajState, FinalSignal](
        typed, quiesceMs, watermarkDelay)(e => (e.grp, e.traj),
      (_, prev, rows) => (rows.foldLeft(prev.getOrElse(TrajState(0L, 0L))) { (s, e) =>
        val sum = s.sum + e.qMilli
        // the state codec's (38,18) integral capacity — named, never a
        // silent encoder truncation
        if (sum.abs >= scala.math.BigDecimal("1e20"))
          throw new IllegalArgumentException(
            "trajectorySignalFinalStream: a running trajectory milli " +
              "sum exceeds the state codec's exact range (10^20); " +
              "rescale the rewards")
        TrajState(sum, s.n + 1L)
      }, Iterator.empty),
      { (key, s) =>
        // the batch long-cast guard, applied to the FINAL sum only
        // (exactly where batch applies it)
        if (s.sum.abs >= scala.math.BigDecimal("9223372036854775808"))
          throw new IllegalArgumentException(
            "trajectorySignalFinalStream: trajectory milli sum exceeds " +
              "a long — the reduction would wrap silently; rescale the " +
              "rewards")
        Some(FinalSignal(key._1, key._2, s.sum.toLongExact, s.n))
      })
      .toDF()
  }

  /** One (snapshot, bucket) token observation with its event time —
    * the typed row the drift eviction machine consumes (the bucket is
    * ALREADY hashed in-plan: the state machine folds counts only).
    */
  final case class BucketEvent(snap: String, b: Long, ts: java.sql.Timestamp) extends Timed

  final case class FinalBucketCount(snap: String, b: Long, p_cnt: Long)

  /** The EVICTING drift-count monitor — the rolling-snapshot answer of
    * the live complete-mode form (the batch
    * [[graft.scale.Sampling.tokenBucketCounts]] run on a stream), on the
    * [[closeOnSilence]] kernel with
    * horizon `quiesceMs`: the stream carries a SNAPSHOT column (the era
    * / ingest batch / crawl slice under measurement), each ACTIVE
    * (snapshot, bucket) key holds one count, and its final
    * `(snapshot, b, p_cnt)` row emits ONCE at close — the drift tail
    * then runs batch-side per closed snapshot
    * (`Sampling.driftFromBucketCounts` against the frozen reference),
    * exactly the live form's composition with the snapshot as the
    * grouping key. Total state is bounded by
    * active-snapshots · buckets, whatever the firehose's history. The
    * closed counts equal [[graft.scale.Sampling.tokenBucketCounts]]
    * over exactly the snapshot's pre-close rows (spec-pinned). The one
    * documented divergence is the kernel's: rows with a NULL event time
    * are excluded.
    *
    * @return streaming (snap, b, p_cnt), append-mode; one row per
    *         CLOSED (snapshot, bucket)
    */
  def driftBucketCountsFinalStream(
      docs: DataFrame,
      textCol: String,
      snapshotCol: String,
      tsCol: String,
      quiesceMs: Long,
      buckets: Int = 4096,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 24),
      "buckets must fit the md5 bucket space")
    val spark = docs.sparkSession
    import spark.implicits._
    val typed = docs
      .select(col(snapshotCol).cast("string").as("snap"),
        explode(TextStats.words(col(textCol))).as("tok"),
        col(tsCol).as("ts"))
      .select(col("snap"),
        TextStats.hashBucket(col("tok"), buckets).as("b"),
        col("ts"))
      .as[BucketEvent]
    // the state is the key's running token count
    closeOnSilence[(String, Long), BucketEvent, Long, FinalBucketCount](
        typed, quiesceMs, watermarkDelay)(e => (e.snap, e.b),
      (_, prev, rows) => (prev.getOrElse(0L) + rows.size, Iterator.empty),
      (key, cnt) => Some(FinalBucketCount(key._1, key._2, cnt)))
      .toDF()
  }

  /** Streaming incremental near-dup detection — the continuous form of
    * [[graft.scale.Dedup.nearDupAgainstSignatures]]: arriving documents
    * probe the FROZEN corpus signature index and emit every VERIFIED
    * near-dup match (idCol, corp_id, jaccard). A downstream gate drops
    * docs that produced any match (the batch operator's anti-join,
    * which needs a per-doc reduction the consumer owns); re-ingesting
    * an indexed corpus therefore streams out a match per duplicate —
    * the real-time twin of [[graft.scale.Curation.pretrainCurateIncrement]]'s
    * incumbent filter.
    *
    * STATELESS: no watermark, no state store, no stream-side
    * aggregation. Per arriving row, the md5-bijection MinHash
    * signature ([[graft.functions.MinhashSignature]], the kernel of
    * [[graft.scale.Dedup.minhashSignatures]] — the spec pins stream ==
    * batch) and band keys compute per row, then TWO stream-static
    * equi-joins: the exploded band keys probe `index`
    * ([[graft.scale.Dedup.signatureBandIndex]] — capped buckets whose
    * members carry their signatures), and verified candidates fetch
    * the corpus shingle set by id for the exact-Jaccard check. A
    * (doc, corp) pair colliding in several bands is emitted ONCE
    * without any distinct(): each joined row reads the member's
    * PRECOMPUTED band keys from the index and keeps the row only in
    * the FIRST shared band (the RangeJoin emit-once-cell rule applied
    * to LSH bands).
    *
    * Scale — the SERVING RECIPE (century-measured by a since-deleted
    * `Profile incrstream` mode): both static sides must be PERSISTED by
    * the caller pre-partitioned AND sorted on their join keys —
    * `index.repartition(col("band")).sortWithinPartitions("band")` and
    * `corpusShingles.repartition(col("corp_id"))
    * .sortWithinPartitions("corp_id")` — because a stream-static join
    * re-executes the static plan EVERY micro-batch: with an unaligned
    * cache each trigger re-shuffles (and re-sorts) the store-sized
    * index, a fixed per-trigger tax that dwarfs the batch-sized probe
    * work; with the cache's partitioning and ordering matching the
    * join requirement, both the exchange and the sort elide and a
    * trigger pays only probe-sized work. Index refresh = restart the
    * query with the new snapshot, the [[classifyStream]] frozen-model
    * contract.
    *
    * @param corpusShingles static (corp_id, shb array<string>) — e.g.
    *   `corpus.select(col(id).as("corp_id"), Dedup.shingles(col(text), n).as("shb"))`
    * @param index [[graft.scale.Dedup.signatureBandIndex]] of the
    *   corpus signature frame, same numHashes/bands
    */
  def nearDupMatchesStream(
      docs: DataFrame,
      corpusShingles: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.2): DataFrame = {
    import graft.scale.Dedup
    val rowsPerBand = numHashes / bands
    require(rowsPerBand * bands == numHashes,
      s"bands $bands must divide numHashes $numHashes")
    // drop shingle-less docs on the text, before any shingle exists in
    // the plan: they are exactly the null-text ones (a split yields at
    // least one word), and a filter on the shingles or the signature is
    // pushed into the scan with word_shingles re-expanded, so the
    // shingle loop would run twice or more per row (as in
    // Dedup.minhashSignatures)
    val probes = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), Dedup.shingles(col(textCol), shingleSize).as("sha"))
      // the batch signature kernel, so stream == batch by construction
      .withColumn("sig", graft.functions.MinhashSignature(col("sha"), numHashes))
      .withColumn("bkeys", Dedup.bandKeys(s => col("sig")(s), bands, rowsPerBand))
      // explode a FOLDABLE band-index sequence, not the bkeys array:
      // exploding bkeys makes the optimizer infer a size(bkeys) > 0
      // scan filter whose pushed-down form re-expands the whole 8-md5
      // expression tree per row; sequence(0, bands-1) folds, so no
      // filter is inferred and bkeys is evaluated once in the project
      .select(col(idCol), col("sha"), col("bkeys"),
        explode(sequence(lit(0), lit(bands - 1))).as("band_idx"))
      .withColumn("band", element_at(col("bkeys"), col("band_idx") + 1))
    val cand = probes
      .join(index, Seq("band"))
      .select(col(idCol), col("sha"), col("bkeys"), col("band_idx"),
        explode(col("members")).as("m"))
      // member band keys are PRECOMPUTED in the index (one md5 pass per
      // member at build) — per-candidate work is an array lookup, not
      // 8 md5s per candidate per micro-batch
      .withColumn("corp_keys", col("m.bkeys"))
      // emit-once: keep the pair only in the FIRST band both share
      .filter(col("band_idx") ===
        element_at(
          filter(sequence(lit(0), lit(bands - 1)),
            b => element_at(col("bkeys"), b + 1) === element_at(col("corp_keys"), b + 1)),
          1))
      .select(col(idCol), col("sha"), col("m.id").as("corp_id"))
    cand
      .join(corpusShingles, Seq("corp_id"))
      .withColumn("jaccard", Dedup.jaccard(col("sha"), col("shb")))
      .filter(col("jaccard") >= threshold)
      .select(col(idCol), col("corp_id"), col("jaccard"))
  }

  /** Streaming DSIR scoring — the ingest-gate form of
    * [[graft.scale.Sampling.dsirScores]]: a frozen
    * [[graft.scale.Sampling.dsirModelDense]] snapshot (one milli-log2
    * llr per feature bucket, smoothing constant folded in, DENSE over
    * the bucket domain so even never-trained buckets score at the
    * smoothed floor) collects to a driver map (`buckets` entries by
    * contract — 4096-ary default, ≤ 2²⁴ hard cap; the batch operator
    * joins instead) and each arriving document scores as a per-row fold
    * of its own hashed tokens, the batch operator's
    * [[graft.scale.TextStats.words]] array.
    * STATELESS: no watermark, no state store, no shuffle; token-less
    * docs emit NO row and scores are bit-identical to the batch
    * operator's on the training corpus (StreamingOpsSpec pins both).
    * Output (idCol, n_tokens, score_milli) — [[Sampling.dsirScores]]'s
    * exact schema, so a threshold gate downstream is the same filter in
    * both worlds.
    */
  def dsirScoreStream(
      docs: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 4096): DataFrame = {
    val m: Map[Long, Long] = model
      .select(col("b").cast("long"), col("llr_k").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(m.size == buckets,
      s"dense DSIR model must cover all $buckets buckets, got ${m.size}")
    val mMap = typedlit(m)
    docs
      .select(col(idCol), TextStats.words(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(
        col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(
          col("toks"),
          lit(0L),
          (acc, t) => acc + element_at(mMap, TextStats.hashBucket(t, buckets)))
          .as("score_milli"))
  }
}
