package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._
  import StreamingOps._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowedCounts: tumbling windows close after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = windowedCounts(input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      windowLength = "10 minutes", watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(1), 100, "click", 1.0),
        Event(2, ts(4), 100, "click", 2.0),
        Event(3, ts(2), 101, "view", 5.0))
      q.processAllAvailable()
      // advance event time far enough to close the 10:00-10:10 window
      input.addData(Event(4, ts(31), 100, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("wc")
        .selectExpr("event_type", "n", "total_value").as[(String, Long, Double)]
        .collect().toSet
      assert(out === Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("userRunningTotals: mapGroupsWithState accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = userRunningTotals(input.toDS())
      .writeStream.format("memory").queryName("urt").outputMode(OutputMode.Update()).start()
    try {
      input.addData(Event(1, ts(1), 100, "click", 1.5), Event(2, ts(2), 100, "click", 2.5))
      q.processAllAvailable()
      input.addData(Event(3, ts(3), 100, "view", 6.0), Event(4, ts(1), 200, "view", 9.0))
      q.processAllAvailable()
      val out = spark.table("urt").as[UserUpdate].collect()
        .groupBy(_.userId).map { case (u, rows) => u -> rows.maxBy(_.nEvents) }
      assert(out(100L).nEvents === 3 && out(100L).total === 10.0)
      assert(out(200L).nEvents === 1 && out(200L).total === 9.0)
    } finally q.stop()
  }

  test("sessionize: gap closes a session; watermark timeout flushes the last one") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapMs = 5 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()
    try {
      // session 1: minutes 1,3; then a >5min gap; session 2: minute 20
      input.addData(
        Event(1, ts(1), 100, "click", 1.0),
        Event(2, ts(3), 100, "click", 2.0),
        Event(3, ts(20), 100, "view", 4.0))
      q.processAllAvailable()
      // event far in the future advances the watermark past session 2's gap
      input.addData(Event(9, ts(59), 999, "click", 0.0))
      q.processAllAvailable()
      val out = spark.table("sess")
        .selectExpr("userId", "nEvents", "totalValue").as[(Long, Long, Double)]
        .collect().toSet
      assert(out.contains((100L, 2L, 3.0))) // session 1 closed by the gap
      assert(out.contains((100L, 1L, 4.0))) // session 2 flushed by timeout
    } finally q.stop()
  }

  test("sessionize: state is watermark-BOUNDED — flushed sessions leave the store, late events drop") {
    // The 100 TB stream safety story: an unbounded user-key space must
    // not grow state without bound. Event-time timeouts REMOVE flushed
    // sessions from the state store, and rows older than the watermark
    // are filtered before the state function — pin both via the query's
    // own stateOperators metrics, not just output rows. dialogueQcStream
    // closes through the same kernel and runs the same scenario.
    implicit val sqlCtx = spark.sqlContext
    def bounded(name: String, op: Dataset[Event] => Dataset[_]): DataFrame = {
      val input = MemoryStream[Event]
      val q = op(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        // b1: two users open sessions -> 2 state rows
        input.addData(
          Event(1, ts(1), 100, "click", 1.0),
          Event(2, ts(3), 100, "click", 2.0),
          Event(3, ts(2), 200, "view", 4.0))
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.head.numRowsTotal === 2L)
        // b2: a third user far ahead advances the watermark to minute 49
        input.addData(Event(9, ts(59), 999, "click", 0.0))
        q.processAllAvailable()
        // b3: 999's session extends (3-min gap); the watermark now past
        // users 100/200's timeout timestamps EVICTS their state; a late
        // minute-2 event (47 min below the watermark) must be filtered —
        // neither a new session nor a mutation of the flushed one
        input.addData(
          Event(10, java.sql.Timestamp.valueOf("2026-01-01 11:02:00"), 999, "click", 0.0),
          Event(11, ts(2), 100, "late", 99.0))
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.head.numRowsTotal === 1L,
          "flushed sessions must be evicted from the state store")
        spark.table(name)
      } finally q.stop()
    }
    val out = bounded("sessbound", sessionize(_, gapMs = 5 * 60 * 1000L))
      .selectExpr("userId", "nEvents", "totalValue").as[(Long, Long, Double)]
      .collect().toSet
    assert(out.contains((100L, 2L, 3.0))) // flushed whole, late row excluded
    assert(out.contains((200L, 1L, 4.0)))
    assert(!out.exists(r => r._1 == 100L && r._3 == 99.0),
      "late event leaked into a session")
    val dlg = bounded("dlgbound", dialogueQcStream(_, gapMs = 5 * 60 * 1000L))
      .selectExpr("userId", "nTurns", "nRoles").as[(Long, Long, Long)]
      .collect().toSet
    assert(dlg.contains((100L, 2L, 1L))) // flushed whole, late row excluded
    assert(dlg.contains((200L, 1L, 1L)))
    assert(dlg.count(_._1 == 100L) === 1,
      "late event leaked into a dialogue")
  }

  test("gap closers: a null-ts event is excluded and the other rows close unchanged; gapMs <= 0 is refused") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Event(1, ts(1), 100, "click", 1.0),
      Event(2, ts(3), 100, "view", 2.0),
      Event(3, ts(20), 100, "view", 4.0))
    val nullTs = Event(4, null, 100, "click", 8.0)
    def closed(name: String, op: Dataset[Event] => Dataset[_], rows: Seq[Event]): Set[Row] = {
      val input = MemoryStream[Event]
      val q = op(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(rows: _*)
        q.processAllAvailable()
        // a foreign user far ahead flushes user 100's open session
        input.addData(Event(9, ts(59), 999, "click", 0.0))
        q.processAllAvailable()
        spark.table(name).filter("userId = 100").collect().toSet
      } finally q.stop()
    }
    val ops = Seq[(String, Dataset[Event] => Dataset[_])](
      "sess" -> (sessionize(_, gapMs = 5 * 60 * 1000L)),
      "dlg" -> (dialogueQcStream(_, gapMs = 5 * 60 * 1000L)))
    for ((name, op) <- ops) {
      val want = closed(s"${name}_nonull", op, evs)
      assert(want.size === 2, s"$name: the gap splits user 100 into two sessions")
      assert(closed(s"${name}_nullts", op, evs :+ nullTs) === want,
        s"$name: a null-ts row must be dropped, not fold into a session")
    }
    val empty = MemoryStream[Event].toDS()
    intercept[IllegalArgumentException](sessionize(empty, gapMs = 0L))
    intercept[IllegalArgumentException](dialogueQcStream(empty, gapMs = -1L))
  }

  test("dedupStream: same-fingerprint docs collapse across micro-batches within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.dedupStream(
      input.toDF().toDF("doc_id", "ts", "text"), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dds").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, ts(1), "the quick brown fox"),
        (2L, ts(2), "THE  quick\tbrown fox"), // same fingerprint (case/ws-insensitive)
        (3L, ts(3), "something else entirely"))
      q.processAllAvailable()
      // next micro-batch, still inside the horizon: dup must drop
      input.addData((4L, ts(5), "the quick brown fox"))
      q.processAllAvailable()
      val out = spark.table("dds").selectExpr("doc_id").as[Long].collect().toSet
      assert(out === Set(1L, 3L))
    } finally q.stop()
  }

  // ---- streaming/batch equivalence pins --------------------------------
  // The streaming twins get correctness ANCHORS, not just shape tests:
  // replaying a real testdata slice through the streaming operator must
  // reproduce the batch query's answer exactly.

  test("sessionize stream == batch q49 on a replayed events slice") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    // replay a deterministic user slice; ns→ms floor matches the batch
    // query's `ts div 1e6`
    // SparkEntry.t normalizes ts to long nanos across testdata vintages
    val evs = graft.SparkEntry.t(spark, dir, "events")
      .filter(col("user_id") % 5 === 0)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Event(r.getLong(0), new java.sql.Timestamp(r.getLong(1) / 1000000L),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_eq").outputMode(OutputMode.Append()).start()
    try {
      input.addData(evs.toSeq: _*)
      q.processAllAvailable()
      // a far-future sentinel (foreign user) advances the watermark so
      // the EventTimeTimeout flushes every still-open session
      val maxMs = evs.map(_.ts.getTime).max
      input.addData(Event(-1L, new java.sql.Timestamp(maxMs + 48L * 3600 * 1000), -1L, "x", 0d))
      q.processAllAvailable()
      val streamed = spark.table("sess_eq")
        .filter(col("userId") >= 0)
        .selectExpr("userId", "sessionStart", "sessionEnd", "nEvents")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.SparkEntry.queries("q49_sessionize")(spark, dir)
        .filter(col("user_id") % 5 === 0)
        .selectExpr("user_id", "start_ms", "end_ms", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("dialogueQcStream == batch dialogueStats on a replayed events slice") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, min => smin}
    val dir = "/root/testdata/sf0.001"
    val gapMs = 30 * 60 * 1000L
    val evs = graft.SparkEntry.t(spark, dir, "events")
      .filter(col("user_id") % 5 === 0)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Event(r.getLong(0), new java.sql.Timestamp(r.getLong(1) / 1000000L),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val input = MemoryStream[Event]
    val q = dialogueQcStream(input.toDS(), gapMs)
      .writeStream.format("memory").queryName("dlg_qc_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(evs.toSeq: _*)
      q.processAllAvailable()
      // far-future foreign-user sentinel advances the watermark so the
      // timeout flushes every still-open dialogue
      val maxMs = evs.map(_.ts.getTime).max
      input.addData(Event(-1L, new java.sql.Timestamp(maxMs + 48L * 3600 * 1000),
        -1L, "x", 0d))
      q.processAllAvailable()
      val streamed = spark.table("dlg_qc_eq")
        .filter(col("userId") >= 0)
        .selectExpr("userId", "sessionStart", "nTurns", "nRoles",
          "nAlternationViolations", "validDialogue")
        .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSet
      // batch twin over the SAME ms-floored frame (session start keys
      // the comparison — two dialogues of one user can share stats)
      val batchDf = evs.toSeq.map(e => (e.userId, e.ts.getTime, e.eventId, e.eventType))
        .toDF("user_id", "ts", "event_id", "role")
      val stats = graft.scale.Dialogue.dialogueStats(
        batchDf, "user_id", "ts", "event_id", "role", gapMs)
      val starts = graft.scale.Dialogue.sessionize(
          batchDf, "user_id", "ts", "event_id", gapMs)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(smin(col("ts")).as("start"))
      val batch = stats.join(starts, Seq("user_id", "session_seq"))
        .selectExpr("user_id", "start", "n_turns", "n_roles",
          "n_alternation_violations", "valid_dialogue")
        .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("dedupStream == batch exact dedup: one survivor per distinct fingerprint of a replayed corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 0).select("doc_id", "text").collect()
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingOps.dedupStream(
      input.toDF().toDF("doc_id", "ts", "text"), watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("dds_eq").outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.map(r => (r.getLong(0), base, r.getString(1))).toSeq: _*)
      q.processAllAvailable()
      val streamedFps = spark.table("dds_eq").select("fingerprint").as[String].collect()
      // batch twin: the same fingerprint column, one group per value —
      // the q16 exactGroups contract keyed the streaming way
      val batchFps = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
        .select(graft.scale.TextStats.fingerprint(col("text")).as("fp"))
        .distinct().as[String].collect().toSet
      assert(streamedFps.toSet === batchFps)
      assert(streamedFps.length === batchFps.size, "stream emitted a duplicate fingerprint")
    } finally q.stop()
  }

  test("latestPerUser: newest-wins head per user (A3 shape, update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = latestPerUser(input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("lpu").outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Event(1, ts(5), 100, "click", 1.0),
        Event(2, ts(9), 100, "click", 7.0),
        Event(3, ts(2), 100, "click", 3.0))
      q.processAllAvailable()
      val out = spark.table("lpu")
        .selectExpr("user_id", "last_event_id", "last_value").as[(Long, Long, Double)]
        .collect().toSet
      assert(out === Set((100L, 2L, 7.0)))
    } finally q.stop()
  }

  test("decontaminateStream == batch q68 on a replayed corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = all.filter(col("doc_id") % 11 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.decontaminateStream(
      input.toDF().toDF("doc_id", "text"),
      all.filter(col("doc_id") % 11 === 0), "doc_id", "text", n = 4)
      .writeStream.format("memory").queryName("dc_eq").outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: per-row statelessness means the split point
      // cannot matter
      val (b1, b2) = corpus.splitAt(corpus.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("dc_eq")
        .as[(Long, Long)].collect().toSet
      val batch = graft.SparkEntry.queries("q68_decontam")(spark, dir)
        .as[(Long, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("asOfStream == batch asOfAll under a frozen right frame") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts",
        org.apache.spark.sql.functions.unix_micros(col("ts").cast("timestamp")) * 1000L)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"), col("value"))
    val batch = graft.ops.AsOfJoin.asOfAll(
      clicks, views, "user_id", "ts", "click_id", Seq("view_id", "value"))
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Long, Long)]
    val q = StreamingOps.asOfStream(
      input.toDF().toDF("user_id", "ts", "click_id"),
      views, "user_id", "ts", "click_id", Seq("view_id", "value"))
      .writeStream.format("memory").queryName("asof_eq").outputMode(OutputMode.Append()).start()
    try {
      val rows = clicks.as[(Long, Long, Long)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("asof_eq")
        .select("click_id", "user_id", "ts", "asof_view_id", "asof_value")
        .collect().map(_.toSeq).toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(2)}; batch-only: ${(batch -- streamed).take(2)}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("chunkStream == batch chunkByTokens on a replayed corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = graft.scale.TextStats.chunkByTokens(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", window = 32, stride = 16)
      .writeStream.format("memory").queryName("ch_eq").outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches: statelessness means the split point cannot matter
      val (b1, b2) = corpus.splitAt(corpus.length / 3)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("ch_eq")
        .as[(Long, Long, String, Long)].collect().toSet
      val batch = graft.scale.TextStats.chunkByTokens(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 32, 16)
        .as[(Long, Long, String, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(2)}; batch-only: ${(batch -- streamed).take(2)}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("encodeBpeStream == batch Bpe.encode under a frozen merge table") {
    implicit val sqlCtx = spark.sqlContext
    import graft.scale.Bpe
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    // the frozen model: trained offline, baked into both plans
    val merges = Bpe.trainMerges(docsDf, "text", numMerges = 12)
    assert(merges.nonEmpty)
    val corpus = docsDf.select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = Bpe.encode(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", merges)
      .groupBy("doc_id", "piece").count()
      .writeStream.format("memory").queryName("bpe_eq")
      .outputMode(OutputMode.Complete()).start()
    try {
      // two micro-batches: statelessness means the split point cannot matter
      val (b1, b2) = corpus.splitAt(corpus.length / 3)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("bpe_eq")
        .as[(Long, String, Long)].collect().toSet
      val batch = Bpe.encode(docsDf, "doc_id", "text", merges)
        .groupBy("doc_id", "piece").count()
        .as[(Long, String, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(2)}; batch-only: ${(batch -- streamed).take(2)}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("nearDupMatchesStream == batch incumbent filter under a frozen signature index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.scale.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val newDocs = docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text")
    val sigCorp = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 16).persist()
    val index = Dedup.signatureBandIndex(sigCorp).persist()
    val corpSh = corpus.select(
      col("doc_id").as("corp_id"), Dedup.shingles(col("text"), 3).as("shb")).persist()
    // batch truth: the q56 operator's dropped set
    val survivors = Dedup.nearDupAgainstSignatures(
      newDocs, corpus,
      Dedup.minhashSignatures(newDocs, "doc_id", "text", 3, 16), sigCorp,
      "doc_id", "text", 3, 16, 8, 0.2)
      .select("doc_id").as[Long].collect().toSet
    val dropped = newDocs.select("doc_id").as[Long].collect().toSet -- survivors
    graft.ops.CacheScope.releaseAll()
    assert(dropped.nonEmpty, "fixture must contain cross-side near-dups")
    val rows = newDocs.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupMatchesStream(
      input.toDF().toDF("doc_id", "text"), corpSh, index, "doc_id", "text",
      threshold = 0.2)
      .writeStream.format("memory").queryName("neardup_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val out = spark.table("neardup_eq")
        .as[(Long, Long, Double)].collect()
      // emit-once: a (doc, corp) pair appears at most once even when it
      // collides in several bands (identical texts share ALL 8 bands)
      assert(out.map(r => (r._1, r._2)).distinct.length === out.length,
        "multi-band collisions must dedup without a distinct()")
      assert(out.map(_._1).toSet === dropped,
        "stream match set must equal the batch operator's dropped set")
      assert(out.forall(_._3 >= 0.2))
    } finally {
      q.stop()
      sigCorp.unpersist(); index.unpersist(); corpSh.unpersist()
    }
  }

  test("nearDupMatchesStream: empty and blank docs keep their matches; no shingle filter in the scan") {
    import org.apache.spark.sql.functions.col
    import graft.functions.WordShingles
    import graft.scale.Dedup
    val corpus = Seq((1L, "the quick brown fox jumps over"), (2L, ""))
      .toDF("doc_id", "text")
    val index = Dedup.signatureBandIndex(Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 16))
    val corpSh = corpus.select(col("doc_id").as("corp_id"), Dedup.shingles(col("text"), 3).as("shb"))
    // parquet-backed, so the docs side is a scan the filters push into
    val path = java.nio.file.Files.createTempDirectory("probes").toFile.getAbsolutePath + "/docs"
    Seq[(Long, String)]((10L, "the quick brown fox jumps over"), (11L, ""), (12L, "   "),
      (13L, null), (14L, "completely different words in here"))
      .toDF("doc_id", "text").write.parquet(path)
    val probe = StreamingOps.nearDupMatchesStream(
      spark.read.parquet(path), corpSh, index, "doc_id", "text", threshold = 0.2)
    // an empty or blank text is ONE shingle, "", as for the corpus's
    // empty doc; only the null text has none
    assert(probe.as[(Long, Long, Double)].collect().sortBy(_._1).toSeq ===
      Seq((10L, 1L, 1.0), (11L, 2L, 1.0), (12L, 2L, 1.0)))
    val shingleFilters = probe.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(_.isInstanceOf[WordShingles]) => f.condition.sql
    }
    assert(shingleFilters.isEmpty, s"word_shingles in a filter: $shingleFilters")
  }

  test("driftBucketCountsStream + batch tail == the batch drift monitor at every prefix") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    import graft.scale.Sampling
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.filter(col("lang") =!= "en").select("doc_id", "text")
    val tgt = docs.filter(col("lang") === "en").select("doc_id", "text")
      .as[(Long, String)].collect()
    // the FROZEN reference-era half, persisted once (the index contract)
    val refCounts = Sampling.tokenBucketCounts(ref, "text", 256, "q_cnt").persist()
    val input = MemoryStream[(Long, String)]
    val q = Sampling.tokenBucketCounts(
      input.toDF().toDF("doc_id", "text"), "text", buckets = 256, "p_cnt")
      .writeStream.format("memory").queryName("drift_counts")
      .outputMode(OutputMode.Complete()).start()
    def driftRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    try {
      val (b1, b2) = tgt.splitAt(tgt.length / 2)
      def check(prefix: Seq[(Long, String)]): Unit = {
        // the live half: the polled complete-mode sink; the tail runs
        // batch-side against the frozen reference counts
        val composed = driftRows(Sampling.driftFromBucketCounts(
          spark.table("drift_counts"), refCounts,
          spark.range(1).select(lit(256L).as("bc"))))
        val batch = driftRows(Sampling.domainDriftContributors(
          prefix.toDF("doc_id", "text"), ref, "text", buckets = 256))
        assert(composed === batch,
          s"prefix of ${prefix.size} docs: composed stream tail must equal batch monitor")
        assert(composed.nonEmpty)
      }
      input.addData(b1: _*); q.processAllAvailable(); check(b1)
      input.addData(b2: _*); q.processAllAvailable(); check(b1 ++ b2)
    } finally {
      q.stop(); refCounts.unpersist()
    }
  }

  test("classifyStream == batch scoreWithWeights under frozen trained weights") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val trained = graft.scale.TextStats.perceptronTrain(
      docs.withColumn("y",
        org.apache.spark.sql.functions.when(col("lang") === "en", 1L).otherwise(-1L)),
      "doc_id", "text", "y", dim = 64, iters = 2)
    // planted token-less docs: the batch operator emits NO row for them
    // (explode leaves nothing), and the stream must agree — this is the
    // empty-text parity case the corpus itself doesn't contain
    val planted = Seq((9000001L, ""), (9000002L, "   \t ")).toDF("doc_id", "text")
    val scored = docs.select(col("doc_id"), col("text")).unionByName(planted)
    val batch = graft.scale.TextStats
      .scoreWithWeights(scored, "doc_id", "text", trained, dim = 64)
      .select("doc_id", "margin", "label")
      .as[(Long, Long, Long)].collect().toSet
    assert(!batch.exists(r => r._1 >= 9000001L),
      "batch must drop token-less docs entirely")
    graft.ops.CacheScope.releaseAll()
    val rows = scored.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.classifyStream(
      input.toDF().toDF("doc_id", "text"), trained, "doc_id", "text", dim = 64)
      .writeStream.format("memory").queryName("clf_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("clf_eq")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("surprisalStream == batch surprisalWithModel under a frozen bigram model") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = graft.scale.TextStats.bigramModel(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    // planted parity cases the corpus doesn't contain: token-less and
    // single-token docs (no bigrams), and a doc whose bigrams are all
    // UNSEEN by the model — the batch inner join emits no row for any
    // of them, and the stream must agree
    val planted = Seq(
      (9000001L, ""), (9000002L, " \t "), (9000003L, "solo"),
      (9000004L, "zzqx1 zzqx2 zzqx3")).toDF("doc_id", "text")
    val serve = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).unionByName(planted)
    val batch = graft.scale.TextStats
      .surprisalWithModel(serve, model, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(!batch.exists(_._1 >= 9000001L),
      "batch must drop no-known-bigram docs entirely")
    graft.ops.CacheScope.releaseAll()
    val rows = serve.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.surprisalStream(
      input.toDF().toDF("doc_id", "text"), model, "doc_id", "text")
      .writeStream.format("memory").queryName("surp_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("surp_eq")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("dsirScoreStream == batch dsirScores under the frozen dense model") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val raw = docs.filter(col("lang") =!= "en")
    val target = docs.filter(col("lang") === "en")
    val model = graft.scale.Sampling.dsirModelDense(raw, target, "text", buckets = 256)
    val batch = graft.scale.Sampling
      .dsirScores(raw, target, "doc_id", "text", buckets = 256)
      .as[(Long, Long, Long)].collect().toSet
    graft.ops.CacheScope.releaseAll()
    // planted parity cases: token-less docs (batch emits no row) and a
    // doc of NEVER-TRAINED tokens — the dense model still scores it at
    // the smoothed floor, which the batch operator cannot see (its
    // model only spans raw-corpus buckets); assert its presence
    // separately rather than against batch
    val planted = Seq((9000001L, ""), (9000002L, " \t "))
    val rows = raw.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect() ++ planted
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.dsirScoreStream(
      input.toDF().toDF("doc_id", "text"), model, "doc_id", "text", buckets = 256)
      .writeStream.format("memory").queryName("dsir_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("dsir_eq")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("retrieveStream == batch searchTopK scores under the frozen index stats") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val corpus0 = spark.read.parquet(s"$dir/documents.parquet")
    val toks = graft.scale.TextStats.words(col("text"))
    val queries = corpus0.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(toks, 1, 8), " ").as("qtext"))
    // planted parity cases the corpus doesn't contain: token-less docs
    // and a doc that matches no query term — the batch operator emits
    // no row for any of them, and the stream must agree
    val planted = Seq((9000001L, ""), (9000002L, " \t "),
      (9000003L, "zzqx1 zzqx2 zzqx3")).toDF("doc_id", "text")
    val docs = corpus0.select(col("doc_id"), col("text")).unionByName(planted)

    // freeze the index stats the way a snapshot would
    val postings = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val doclen = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val statsRow = doclen.agg(count(lit(1)).as("n"), sum("dl").as("tot")).head()
    val (nDocs, avgdl) =
      (statsRow.getLong(0), math.max(statsRow.getLong(1) / statsRow.getLong(0), 1L))
    val dfMap = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = queries
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct().collect()
      .flatMap { r =>
        dfMap.get(r.getString(1)).map { d =>
          (r.getLong(0), r.getString(1), (1000L * (nDocs - d + 1)) / (d + 1))
        }
      }.toSeq

    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.retrieveStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", weights, avgdl)
      .writeStream.format("memory").queryName("ret_eq").outputMode(OutputMode.Append()).start()
    try {
      val corpus = docs.select("doc_id", "text").as[(Long, String)].collect()
      val (b1, b2) = corpus.splitAt(corpus.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("ret_eq")
        .as[(Long, Long, Long)].collect().map(t => (t._2, t._1, t._3)).toSet
      // batch comparator: k >= corpus size => the full scored set
      val batch = graft.scale.Retrieval
        .searchTopK(docs, queries, "doc_id", "text", "query_id", "qtext", k = 10000)
        .select("query_id", "doc_id", "score")
        .as[(Long, Long, Long)].collect().toSet
      assert(!batch.exists(_._2 >= 9000001L),
        "batch must drop token-less and no-match docs entirely")
      assert(streamed === batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("preferencePairsStream == batch preferencePairs at every micro-batch prefix") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the q157 response-log view of events, replayed in three batches
    val real = spark.read.parquet(s"$dir/events.parquet")
      .select(org.apache.spark.sql.functions.col("props").as("prompt"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("props")).as("content"),
        org.apache.spark.sql.functions.col("value"))
      .as[(String, Long, String, Option[Double])].collect()
    // inject null-signal rows (the fixture has none — verified) so the
    // null-exclusion law is exercised THROUGH the stream, including a
    // null that would otherwise have topped its prompt's group
    val maxSig = real.flatMap(_._4).max
    val resp = real ++ Seq(
      (real.head._1, 9000001L, "null signal high", None: Option[Double]),
      (real.last._1, 9000002L, "null signal too", None: Option[Double]))
    assert(resp.count(_._4.isEmpty) === 2 && maxSig > 0.0)
    val input = MemoryStream[(String, Long, String, Option[Double])]
    val q = graft.scale.Dialogue.preferencePairs(
        input.toDF().toDF("prompt", "event_id", "content", "value"),
        "prompt", "event_id", "content", "value")
      .writeStream.format("memory").queryName("pref_eq")
      .outputMode(OutputMode.Complete()).start()
    try {
      val cut1 = resp.length / 3
      val cut2 = 2 * resp.length / 3
      Seq(resp.slice(0, cut1), resp.slice(cut1, cut2), resp.slice(cut2, resp.length))
        .zipWithIndex.foldLeft(0) { case (seen, (batch, i)) =>
          input.addData(batch.toSeq: _*)
          q.processAllAvailable()
          val streamed = rowSeqs(spark.table("pref_eq"))
          val want = rowSeqs(graft.scale.Dialogue.preferencePairs(
            spark.createDataFrame(resp.take(seen + batch.length).toSeq)
              .toDF("prompt", "event_id", "content", "value"),
            "prompt", "event_id", "content", "value"))
          assert(streamed === want, s"prefix after batch $i")
          assert(streamed.nonEmpty, s"prefix $i exercises pairs")
          seen + batch.length
        }
    } finally q.stop()
  }

  test("streaming gated preferences, the TWO-STAGE recipe: complete-mode assembly + batch gates on the polled sink == gatedPreferencePairs") {
    // the recipe for gating the live preferencePairs stream (gating
    // needs joins against the pair frame — a second aggregation over
    // the streaming agg, which one streaming query cannot express):
    // stage 1 assembles pairs continuously; stage 2 applies the
    // pair-level gates BATCH-side to the polled sink. Pinned equal to
    // the all-batch gated frame over the replayed log.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("content", concat_ws(" ", col("event_type"), col("props")))
    val responses = ev.select(col("props").as("prompt"), col("event_id"),
      col("content"), col("value"))
    val holdout = ev.filter(col("event_id") % 997 === 0)
      .select(col("event_id"), col("content"))
    val gap = 1800000000000L
    val evTs = ev.withColumn("ts",
      expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
    val invalid = graft.scale.Dialogue
      .sessionize(evTs, "user_id", "ts", "event_id", gap)
      .join(
        graft.scale.Dialogue.dialogueStats(
          evTs, "user_id", "ts", "event_id", "event_type", gap)
          .filter(!col("valid_dialogue"))
          .select(col("user_id"), col("session_seq")),
        Seq("user_id", "session_seq"), "left_semi")
      .select(col("event_id"))
    val rows = responses.as[(String, Long, String, Option[Double])].collect()
    val input = MemoryStream[(String, Long, String, Option[Double])]
    val q = graft.scale.Dialogue.preferencePairs(
        input.toDF().toDF("prompt", "event_id", "content", "value"),
        "prompt", "event_id", "content", "value")
      .writeStream.format("memory").queryName("pref_gate")
      .outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // stage 2: the batch gates over the POLLED SINK (exactly
    // gatedPreferencePairs' back half, driven from the assembled frame)
    val sink = spark.table("pref_gate")
    val sides = sink.select(col("chosen_id").as("event_id"),
        col("chosen_content").as("content"))
      .unionByName(sink.select(col("rejected_id").as("event_id"),
        col("rejected_content").as("content")))
    val leaky = graft.scale.Dedup.decontaminate(
      sides, holdout, "event_id", "content", 3).select(col("event_id"))
    val gatedIds = leaky.unionByName(invalid).distinct()
    val twoStage = sink
      .join(gatedIds, sink("chosen_id") === gatedIds("event_id"), "left_anti")
      .join(gatedIds, sink("rejected_id") === gatedIds("event_id"), "left_anti")
    val allBatch = graft.scale.Dialogue.gatedPreferencePairs(
      responses, invalid, holdout, "prompt", "event_id", "content", "value")
    assert(rowSeqs(twoStage) === rowSeqs(allBatch),
      "two-stage streaming recipe == all-batch gated frame")
    // the pin is non-vacuous: pairs assembled, and the gates dropped some
    assert(sink.count() > 0 && twoStage.count() < sink.count(),
      "gates must actually drop pairs for this pin to mean anything")
  }

  test("feedbackClassCountsStream: stream == batch class counts at every prefix; two-stage join == binaryFeedback") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val responses = spark.read.parquet(s"$dir/events.parquet")
      .select(col("props").as("prompt"), col("event_id"),
        concat_ws(" ", col("event_type"), col("props")).as("content"),
        col("value"))
    val rows = responses.as[(String, Long, String, Option[Double])].collect()
    val input = MemoryStream[(String, Long, String, Option[Double])]
    val q = graft.scale.Dialogue.feedbackClassCounts(
        input.toDF().toDF("prompt", "event_id", "content", "value"),
        "prompt", "value", threshold = 35.0)
      .writeStream.format("memory").queryName("fb_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      val cut = rows.length / 2
      Seq(rows.take(cut), rows.drop(cut)).zipWithIndex.foldLeft(0) {
        case (seen, (batch, i)) =>
          input.addData(batch.toSeq: _*)
          q.processAllAvailable()
          val streamed = rowSeqs(spark.table("fb_counts"))
          val want = rowSeqs(graft.scale.Dialogue.binaryFeedback(
            spark.createDataFrame(rows.take(seen + batch.length).toSeq)
              .toDF("prompt", "event_id", "content", "value"),
            "prompt", "event_id", "content", "value", 35.0)
            .select("prompt", "n_desirable", "n_undesirable").distinct())
          assert(streamed === want, s"prefix after batch $i")
          assert(streamed.nonEmpty)
          seen + batch.length
      }
    } finally q.stop()
    // stage 2 of the recipe: the polled counts joined back to the
    // labeled candidates, with the weight computed batch-side, equals
    // the all-batch binaryFeedback frame on the full log
    val sink = spark.table("fb_counts")
    val labeled = responses.filter(col("value").isNotNull)
      .withColumn("desirable", col("value") >= 35.0)
    val twoStage = labeled.join(sink, Seq("prompt"))
      .withColumn("weight_milli",
        when(col("n_desirable") === 0L || col("n_undesirable") === 0L, 1000L)
          .otherwise(expr(
            """(least(n_desirable, n_undesirable) * 1000)
              | div (CASE WHEN desirable THEN n_desirable
              |           ELSE n_undesirable END)""".stripMargin)))
      .select("prompt", "event_id", "content", "value", "desirable",
        "n_desirable", "n_undesirable", "weight_milli")
    val allBatch = graft.scale.Dialogue.binaryFeedback(
      responses, "prompt", "event_id", "content", "value", 35.0)
    assert(rowSeqs(twoStage) === rowSeqs(allBatch),
      "two-stage streaming recipe == all-batch binaryFeedback")
  }

  test("cmsSketchStream: the sketch after N micro-batches equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("tok"))
    val vals = toks.as[String].collect()
    val input = MemoryStream[String]
    def sketch(df: DataFrame) =
      df.agg(graft.functions.CmsSketch(col("tok"), 4, 256).as("sketch"))
    val q = sketch(input.toDF().toDF("tok"))
      .writeStream.format("memory").queryName("cms_eq").outputMode(OutputMode.Complete()).start()
    try {
      val (b1, b2) = vals.splitAt(vals.length / 3)
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("cms_eq").as[Seq[Long]].collect().head
      val batch = sketch(toks).as[Seq[Long]].collect().head
      assert(streamed === batch)
      assert(streamed.sum === 4L * vals.length, "mass conservation across micro-batches")
    } finally q.stop()
  }

  test("trajectorySignalStream == batch turnSignalReduce at every micro-batch prefix") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // per-turn rewards = the events log keyed (props, user_id): group =
    // prompt key, trajectory = user, reward = value
    val rewards = spark.read.parquet(s"$dir/events.parquet")
      .select(col("props").as("grp"), col("user_id").as("traj"),
        col("value").as("reward"))
    val rows = rewards.as[(String, Long, Option[Double])].collect()
    val input = MemoryStream[(String, Long, Option[Double])]
    val q = graft.scale.Dialogue.turnSignalReduce(
        input.toDF().toDF("grp", "traj", "reward"),
        "grp", "traj", "reward")
      .writeStream.format("memory").queryName("traj_sig")
      .outputMode(OutputMode.Complete()).start()
    try {
      val cut = rows.length / 2
      Seq(rows.take(cut), rows.drop(cut)).zipWithIndex.foldLeft(0) {
        case (seen, (batch, i)) =>
          input.addData(batch.toSeq: _*)
          q.processAllAvailable()
          val streamed = rowSeqs(spark.table("traj_sig"))
          val want = rowSeqs(graft.scale.Dialogue.turnSignalReduce(
            spark.createDataFrame(rows.take(seen + batch.length).toSeq)
              .toDF("grp", "traj", "reward"),
            "grp", "traj", "reward"))
          assert(streamed === want, s"prefix after batch $i")
          assert(streamed.nonEmpty)
          seen + batch.length
      }
    } finally q.stop()
  }

  test("trajectorySignalFinalStream: quiescent trajectories close with their BATCH reduction, state evicted, reopen fresh") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // traj (g1,1): two rewards (quantize-then-sum 1001+2999=4000);
    // (g1,2): one reward + a null (null excluded — n stays 1);
    // (g2,3): one negative reward; (g3,4): all-null (never opens state)
    // (g4,5): a TRANSIENT-overflow trajectory — partial sums pass 2^63
    // (8e18 + 8e18) but the final sum fits a long; the decimal state
    // must close it exactly as batch does (the r19 self-review finding:
    // a long fold failed here, arrival-order-dependently)
    val w1 = Seq(
      ("g1", 1L, Some(1.0017), ts(10)), ("g1", 1L, Some(2.9995), ts(11)),
      ("g1", 2L, Some(0.5), ts(11)), ("g1", 2L, None: Option[Double], ts(12)),
      ("g2", 3L, Some(-1.0001), ts(12)),
      ("g3", 4L, None: Option[Double], ts(11)),
      ("g4", 5L, Some(8.0e15), ts(10)), ("g4", 5L, Some(8.0e15), ts(11)),
      ("g4", 5L, Some(-8.0e15), ts(12)))
    val input = MemoryStream[(String, Long, Option[Double], java.sql.Timestamp)]
    val q = StreamingOps.trajectorySignalFinalStream(
        input.toDF().toDF("grp", "traj", "reward", "ts"),
        "grp", "traj", "reward", "ts",
        quiesceMs = 10 * 60000L, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("traj_final")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(w1: _*); q.processAllAvailable()
      assert(spark.table("traj_final").count() === 0L,
        "active trajectories emit nothing")
      input.addData(("gz", 99L, Some(1.0), ts(120))); q.processAllAvailable()
      val closed = spark.table("traj_final")
        .select("grp", "traj", "signal_milli", "n_reward_turns")
      val want = rowSeqs(graft.scale.Dialogue.turnSignalReduce(
        spark.createDataFrame(w1).toDF("grp", "traj", "reward", "ts")
          .drop("ts"),
        "grp", "traj", "reward"))
      assert(rowSeqs(closed) === want,
        "closed trajectories equal the batch reduction over their rows " +
          "(including the transient-overflow trajectory)")
      assert(closed.count() === 4L, "the all-null trajectory never opened")
      // reopen (g1,1) after its close: the fresh group sees ONLY the
      // post-close reward — the state-eviction observable
      input.addData(("g1", 1L, Some(5.0), ts(130))); q.processAllAvailable()
      input.addData(("gz2", 98L, Some(1.0), ts(300))); q.processAllAvailable()
      val again = spark.table("traj_final")
        .filter(col("grp") === "g1" && col("traj") === 1L &&
          col("signal_milli") === 5000L)
        .collect()
      assert(again.length === 1 && again.head.getAs[Long]("n_reward_turns") === 1L,
        "the reopened trajectory saw ONLY post-close rows")
    } finally q.stop()
  }

  test("driftBucketCountsFinalStream: quiescent (snapshot, bucket) keys close with their BATCH counts, state evicted, reopen fresh") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // two snapshots; s1 has a repeated token (count 2 in one bucket), a
    // token-less doc (emits nothing), and a null-ts doc (excluded)
    val w1 = Seq(
      ("s1", "alpha beta alpha", Some(ts(10))),
      ("s1", "gamma", Some(ts(11))),
      ("s1", "???", Some(ts(11))),
      ("s1", "dropped null ts", None: Option[java.sql.Timestamp]),
      ("s2", "alpha delta", Some(ts(12))))
    val buckets = 64
    val input = MemoryStream[(String, String, Option[java.sql.Timestamp])]
    val q = StreamingOps.driftBucketCountsFinalStream(
        input.toDF().toDF("snap", "text", "ts"),
        "text", "snap", "ts",
        quiesceMs = 10 * 60000L, buckets = buckets,
        watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("drift_final")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(w1: _*); q.processAllAvailable()
      assert(spark.table("drift_final").count() === 0L,
        "active keys emit nothing")
      input.addData(("zz", "far future", Some(ts(120)))); q.processAllAvailable()
      val closed = spark.table("drift_final").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      // per snapshot, the closed counts ARE the batch bucket counts
      // over that snapshot's placeable rows
      for (snap <- Seq("s1", "s2")) {
        val batch = graft.scale.Sampling.tokenBucketCounts(
          spark.createDataFrame(
            w1.filter(r => r._1 == snap && r._3.isDefined).map(r => Tuple1(r._2)))
            .toDF("text"),
          "text", buckets, "p_cnt")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(closed.filter(_._1._1 == snap).map { case ((_, b), c) => b -> c } ===
          batch, s"closed counts == batch tokenBucketCounts for $snap")
      }
      // reopen: a late-ish doc for s1 lands in a FRESH key (old state
      // evicted) — its close counts ONLY the post-close row, so the
      // alpha bucket now has TWO closed rows: 2 (pre) and 1 (reopened)
      val alphaBucket = spark.range(1)
        .select(graft.scale.TextStats.hashBucket(
          org.apache.spark.sql.functions.lit("alpha"), buckets).as("b"))
        .head().getLong(0)
      input.addData(("s1", "alpha", Some(ts(130)))); q.processAllAvailable()
      input.addData(("zz2", "flush", Some(ts(300)))); q.processAllAvailable()
      val alphaRows = spark.table("drift_final")
        .filter(col("snap") === "s1" && col("b") === alphaBucket)
        .collect().map(_.getLong(2)).sorted.toSeq
      assert(alphaRows === Seq(1L, 2L),
        "the reopened key saw ONLY post-close rows (fresh count 1 " +
          "beside the closed count 2)")
    } finally q.stop()
  }

  test("trajectorySignalFinalStream: a null trajectory key fails BY NAME — the documented divergence from batch's null-key group (r19 advisory)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val input = MemoryStream[(String, Option[Long], Option[Double], java.sql.Timestamp)]
    val q = StreamingOps.trajectorySignalFinalStream(
        input.toDF().toDF("grp", "traj", "reward", "ts"),
        "grp", "traj", "reward", "ts",
        quiesceMs = 10 * 60000L, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("traj_final_nullkey")
      .outputMode(OutputMode.Append()).start()
    try {
      val err = intercept[Exception] {
        input.addData(("g1", None: Option[Long], Some(1.0), ts(10)))
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
      assert(chain(err).exists(t => Option(t.getMessage)
        .exists(_.contains("trajectorySignalFinalStream"))),
        s"named guard, got: ${err.getMessage}")
    } finally q.stop()
  }

  test("feedbackClassCountsFinalStream: quiescent prompts close with their BATCH class counts, state evicted, reopen fresh") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // prompt A: 2 desirable (>= 3.0) + 1 undesirable + a null (excluded);
    // prompt B: all undesirable
    val w1 = Seq(
      ("A", Some(5.0), ts(10)), ("A", Some(3.0), ts(11)),
      ("A", Some(1.0), ts(12)), ("A", None: Option[Double], ts(12)),
      ("B", Some(2.0), ts(11)), ("B", Some(0.5), ts(12)))
    val input = MemoryStream[(String, Option[Double], java.sql.Timestamp)]
    val q = StreamingOps.feedbackClassCountsFinalStream(
        input.toDF().toDF("prompt", "value", "ts"),
        "prompt", "value", threshold = 3.0, "ts",
        quiesceMs = 10 * 60000L, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("fb_final")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(w1: _*); q.processAllAvailable()
      assert(spark.table("fb_final").count() === 0L, "active prompts emit nothing")
      input.addData(("Z", Some(1.0), ts(120))); q.processAllAvailable()
      val closed = spark.table("fb_final")
      val streamed = rowSeqs(closed)
      val want = rowSeqs(graft.scale.Dialogue.feedbackClassCounts(
        spark.createDataFrame(w1).toDF("prompt", "value", "ts").drop("ts"),
        "prompt", "value", 3.0))
      assert(streamed === want,
        "closed prompts equal the batch class counts over their rows")
      assert(closed.count() === 2L)
      // reopen A: fresh counts, old state evicted
      input.addData(("A", Some(9.0), ts(130))); q.processAllAvailable()
      input.addData(("Z2", Some(1.0), ts(300))); q.processAllAvailable()
      val again = spark.table("fb_final")
        .filter(col("prompt") === "A" && col("n_desirable") === 1L &&
          col("n_undesirable") === 0L)
      assert(again.count() === 1L, "the reopened prompt saw ONLY post-close rows")
    } finally q.stop()
  }

  test("preferencePairsFinalStream: quiescent prompts close with their BATCH pair, state is evicted, reopened prompts start fresh") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // prompt A: three graded candidates + a null-signal row that would
    // have topped the group (null exclusion THROUGH the stream);
    // prompt B: a single candidate (no contrast -> closes silently);
    // prompt C: two equal signals (zero margin -> closes silently)
    // times start at minute 10: a row AT the initial zero watermark
    // would be dropped as late before it ever reached the state machine
    val winA = Seq(
      ("A", 1L, "c1", Some(5.0), ts(10)), ("A", 2L, "c2", Some(9.0), ts(11)),
      ("A", 3L, "c3", Some(1.0), ts(12)), ("A", 9L, "hi", None: Option[Double], ts(12)))
    val b1 = winA ++ Seq(
      ("B", 4L, "only", Some(3.0), ts(11)),
      ("C", 5L, "x", Some(2.0), ts(12)), ("C", 6L, "y", Some(2.0), ts(12)))
    val input = MemoryStream[(String, Long, String, Option[Double], java.sql.Timestamp)]
    val q = StreamingOps.preferencePairsFinalStream(
        input.toDF().toDF("prompt", "event_id", "content", "value", "ts"),
        "prompt", "event_id", "content", "value", "ts",
        quiesceMs = 10 * 60000L, watermarkDelay = "5 minutes")
      .writeStream.format("memory").queryName("pref_final")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      assert(spark.table("pref_final").count() === 0L,
        "active prompts emit nothing")
      // a far-future row advances the watermark past every quiescence
      // horizon: A emits its FINAL pair; B and C close silently
      input.addData(("Z", 7L, "z", Some(1.0), ts(120))); q.processAllAvailable()
      val closed = spark.table("pref_final")
      val want = rowSeqs(graft.scale.Dialogue.preferencePairs(
        spark.createDataFrame(winA)
          .toDF("prompt", "event_id", "content", "value", "ts")
          .drop("ts"),
        "prompt", "event_id", "content", "value"))
      assert(rowSeqs(closed) === want,
        "the closed prompt's pair equals the batch frame over its rows")
      assert(closed.count() === 1L, "no-contrast prompts close silently")
      // REOPEN: rows for A after its close start a FRESH group — the
      // second pair must see ONLY them (n_candidates 2, not 6), which
      // is exactly the state-eviction observable
      input.addData(("A", 11L, "r1", Some(2.0), ts(130)),
        ("A", 12L, "r2", Some(7.0), ts(131)))
      q.processAllAvailable()
      input.addData(("Z2", 8L, "zz", Some(1.0), ts(300))); q.processAllAvailable()
      val again = spark.table("pref_final")
        .filter(col("prompt") === "A" && col("chosen_id") === 12L)
        .collect()
      assert(again.length === 1, "reopened prompt closes again")
      assert(again.head.getAs[Long]("n_candidates") === 2L &&
        again.head.getAs[Long]("rejected_id") === 11L &&
        again.head.getAs[Double]("margin") === 5.0,
        "the reopened group saw ONLY post-close rows — old state evicted")
      assert(spark.table("pref_final").count() === 2L,
        "exactly the two strict-margin closures emitted")
    } finally q.stop()
  }
}
