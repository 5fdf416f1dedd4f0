package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** Structured Streaming execution of the StreamingOps transforms: a
  * MemoryStream drives the watermarked tumbling count incrementally,
  * proving the same plan fragment the batch oracle checks also runs
  * under readStream semantics (watermark, state, append mode). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked tumbling counts emit finalized windows; late row dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.tumbling(
        mem.toDF().toDF("ts", "k").withWatermark("ts", "30 minutes"),
        col("ts"), col("k"), lit(0.0), "1 hour")
      .select(col("window.start").as("window_start"), col("k"), col("n"))

    val q = out.writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events in hour 10, one in hour 11
      mem.addData((ts("2024-01-01 10:05:00"), "a"), (ts("2024-01-01 10:40:00"), "a"),
        (ts("2024-01-01 11:10:00"), "b"))
      q.processAllAvailable()
      // batch 2: event at 13:00 advances watermark to 12:30 -> hours 10,11 finalize
      mem.addData((ts("2024-01-01 13:00:00"), "b"))
      q.processAllAvailable()
      // batch 3: a LATE row for hour 10 (before watermark) must be dropped,
      // and 15:00 advances the watermark past hour 13
      mem.addData((ts("2024-01-01 10:20:00"), "a"), (ts("2024-01-01 15:00:00"), "c"))
      q.processAllAvailable()

      val rows = spark.table("tumbling_test")
        .select(date_format(col("window_start"), "HH").as("h"), col("k"), col("n"))
        .as[(String, String, Long)].collect().toSet
      rows should contain(("10", "a", 2L)) // late row did NOT bump this to 3
      rows should contain(("11", "b", 1L))
      rows should contain(("13", "b", 1L))
      rows should not contain (("10", "a", 3L))
      // hour 15 not finalized yet (watermark has not passed it) -> absent
      rows.map(_._1) should not contain "15"
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: gap split + event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.{SessionEvent, SessionResult}
    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("userId", "eventTime")
      .withWatermark("eventTime", "0 seconds")
      .as[SessionEvent]
    val out = StreamingOps.sessionizeWithState(events, gapMs = 10 * 60 * 1000)

    val q = out.writeStream.format("memory").queryName("session_state_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min gap
      mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 10:35:00"))) // splits: first session closes
      q.processAllAvailable()
      // advance the watermark far past 10:45 so the open session times out
      mem.addData((2L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01 14:00:00"))) // push watermark past 12:10 too
      q.processAllAvailable()

      val rows = spark.table("session_state_test").as[SessionResult]
        .collect().map(r => (r.userId, r.startMs, r.endMs, r.n)).toSet
      def ms(s: String) = ts(s).getTime
      // user 1 session A: 10:00-10:05, closed by the 10:35 event, end = last+gap
      rows should contain((1L, ms("2024-01-01 10:00:00"), ms("2024-01-01 10:15:00"), 2L))
      // user 1 session B: the 10:35 singleton, closed by timeout
      rows should contain((1L, ms("2024-01-01 10:35:00"), ms("2024-01-01 10:45:00"), 1L))
      // user 2 first event: closed by timeout after the 14:00 event
      rows should contain((2L, ms("2024-01-01 12:00:00"), ms("2024-01-01 12:10:00"), 1L))
    } finally q.stop()
  }

  test("sessionization: out-of-order event across batches cannot shrink a session") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.{SessionEvent, SessionResult}
    val mem = MemoryStream[(Long, Timestamp)]
    val events = mem.toDF().toDF("userId", "eventTime")
      .withWatermark("eventTime", "30 minutes") // late-but-within-watermark arrivals
      .as[SessionEvent]
    val out = StreamingOps.sessionizeWithState(events, gapMs = 10 * 60 * 1000)
    val q = out.writeStream.format("memory").queryName("session_ooo_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // batch 2 delivers an OLDER event (within watermark): lastMs must
      // stay 10:20, so the 10:25 event still merges (10:25-10:20 < gap)
      mem.addData((1L, ts("2024-01-01 10:10:00")), (1L, ts("2024-01-01 10:25:00")))
      q.processAllAvailable()
      mem.addData((2L, ts("2024-01-01 14:00:00"))) // advance watermark, close it
      q.processAllAvailable()
      val rows = spark.table("session_ooo_test").as[SessionResult]
        .collect().filter(_.userId == 1L).map(r => (r.startMs, r.endMs, r.n)).toSet
      def ms(s: String) = ts(s).getTime
      // ONE session 10:10-10:35 with all 3 events — a regressed lastMs
      // would have split it into two
      rows shouldBe Set((ms("2024-01-01 10:10:00"), ms("2024-01-01 10:35:00"), 3L))
    } finally q.stop()
  }

  test("sessionizeBatch: gap split + trailing open session emitted (complete-history semantics)") {
    val events = Seq((1L, 0L), (1L, 50L), (1L, 200L), (2L, 10L)).toDS()
    val out = StreamingOps.sessionizeBatch(events, gapMicros = 100L)
      .collect().sortBy(r => (r.userId, r.startMs))
      .map(r => (r.userId, r.startMs, r.endMs, r.n)).toSeq
    // user 1: 0,50 merge (gap 50 < 100); 200 splits (150 >= 100); the
    // trailing session is emitted because a batch group is complete
    out shouldBe Seq((1L, 0L, 150L, 2L), (1L, 200L, 300L, 1L), (2L, 10L, 110L, 1L))
  }

  test("file-source readStream over events.parquet: tumbling counts match batch") {
    // the gate's own data through a REAL file source (not MemoryStream):
    // the same StreamingOps.tumbling fragment the st_tumbling oracle
    // checks in batch must produce the identical window set when driven
    // incrementally by readStream. Complete output mode because the
    // source is finite — append would hold back windows the watermark
    // never passes.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists)
    val batch = Tables.tbl(spark, dir, "events")
    // the shared staged source (atomic copy + ns→µs rebuild) the two
    // st_stream_* entries use — one helper owns those invariants
    val stream = QueriesStreaming.stagedEventsStream(spark, dir)
    def shape(df: org.apache.spark.sql.DataFrame) =
      StreamingOps.tumbling(df, col("ts"), col("event_type"), col("value"), "1 hour")
        .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_v"))
    val q = shape(stream).writeStream.format("memory").queryName("file_tumbling")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_tumbling")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val want = shape(batch).as[(Timestamp, String, Long, Double)].collect().toSet
      got shouldBe want
      got.size should be > 10
    } finally q.stop()
  }

  test("file-source readStream sessionization matches batch (finalized sessions)") {
    // sessionizeWithState driven by a file source over the gate's own
    // events table, reconciled against the batch state machine at the
    // same (millis) precision. With a 0-second watermark the stream
    // finalizes every session whose timeout (last + gap) the end-of-input
    // watermark (= max ts) passes; trailing open sessions stay in state —
    // inherent to append-mode streaming over a finite source.
    import StreamingOps.{SessionEvent, SessionResult}
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists)
    val gapMs = 8L * 3600 * 1000
    val batchEv = Tables.tbl(spark, dir, "events")
    val events = QueriesStreaming.stagedEventsStream(spark, dir)
      .select(col("user_id").cast("long").as("userId"), col("ts").as("eventTime"))
      .withWatermark("eventTime", "0 seconds")
      .as[SessionEvent]
    val q = StreamingOps.sessionizeWithState(events, gapMs)
      .writeStream.format("memory").queryName("file_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_sessions").as[SessionResult]
        .collect().map(r => (r.userId, r.startMs, r.endMs, r.n)).toSet
      // batch truth at the SAME millis precision the streaming wrapper
      // uses (SessionEvent timestamps truncate µs→ms via getTime)
      val allBatch = StreamingOps.sessionizeBatch(
        batchEv.select(col("user_id").cast("long"),
          (unix_micros(col("ts")) / 1000L).cast("long")).as[(Long, Long)], gapMs)
        .collect().map(r => (r.userId, r.startMs, r.endMs, r.n)).toSet
      val maxMs = batchEv.agg(max(expr("unix_micros(ts) div 1000"))).head().getLong(0)
      // no fabricated sessions...
      got.subsetOf(allBatch) shouldBe true
      // ...and every session the watermark could finalize was emitted
      // (strict <: event-time timeout fires when watermark > timestamp)
      val finalizable = allBatch.filter(_._3 < maxMs)
      finalizable.subsetOf(got) shouldBe true
      finalizable.size should be > 10
    } finally q.stop()
  }

  test("batch and streaming tumbling agree on the same input") {
    val batch = Seq(
      (ts("2024-01-01 10:05:00"), "a", 1.0), (ts("2024-01-01 10:40:00"), "a", 2.0),
      (ts("2024-01-01 11:10:00"), "b", 4.0)).toDF("ts", "k", "v")
    val got = StreamingOps.tumbling(batch, col("ts"), col("k"), col("v"), "1 hour")
      .select(date_format(col("window.start"), "HH").as("h"), col("k"), col("n"), col("sum_v"))
      .as[(String, String, Long, Double)].collect().toSet
    got shouldBe Set(("10", "a", 2L, 3.0), ("11", "b", 1L, 4.0))
  }

  test("stream-stream interval join: cross-batch state match emits, late click dropped") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF().toDF("user_id", "click_ts")
      .withWatermark("click_ts", "0 seconds")
    val b = buys.toDF().toDF("buy_user", "buy_ts")
      .withWatermark("buy_ts", "0 seconds")
    val joined = c.join(b,
      col("user_id") === col("buy_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_ts"), col("buy_ts"))
    val q = joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a click with no partner yet -> goes to join state
      clicks.addData((1L, ts("2024-01-01 10:00:00")))
      buys.addData((2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // batch 2: the partner purchase arrives later -> the pair can ONLY
      // be produced from the click state kept across the batch boundary
      buys.addData((1L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // batch 3: advance both watermarks well past 11:05
      clicks.addData((9L, ts("2024-01-01 12:00:00")))
      buys.addData((9L, ts("2024-01-01 12:30:00")))
      q.processAllAvailable()
      // batch 4: a LATE click (behind the watermark) whose would-be
      // partner was the batch-1 purchase: the row is late AND that
      // purchase's state is evicted (buy_ts < watermark), so the
      // bounded-state contract says no pair may appear
      clicks.addData((2L, ts("2024-01-01 09:50:00")))
      q.processAllAvailable()

      val rows = spark.table("ss_join_test")
        .select(col("user_id"), date_format(col("click_ts"), "HH:mm").as("c"),
          date_format(col("buy_ts"), "HH:mm").as("b"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      rows shouldBe Set((1L, "10:00", "10:30"), (9L, "12:00", "12:30"))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dups dropped while state held, key re-emits after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    // 1-hour delay: a key's state lives until the watermark (max event
    // time − 1h) passes its event time, so dups inside the hour dedup
    // and older state is reclaimed — with a 0s delay the state would
    // expire the instant the watermark touches it and nothing dedups
    // across batches
    val out = mem.toDF().toDF("k", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("k")
    val q = out.writeStream.format("memory").queryName("ddww_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: first arrival emits and plants state
      mem.addData(("a", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // batch 2: a dup inside the state window is DROPPED; "z" advances
      // the watermark to 11:00, past "a"'s event time -> state evicted
      mem.addData(("a", ts("2024-01-01 10:05:00")), ("z", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // batch 3: same key AFTER eviction re-emits — the bounded-state
      // trade the operator makes (state ∝ keys inside the watermark
      // horizon, not all keys ever seen) — exactly the retention story
      // st_stream_dedup's Scaladoc claims for the 100 TB path
      mem.addData(("a", ts("2024-01-01 12:30:00")))
      q.processAllAvailable()

      val rows = spark.table("ddww_test")
        .select(col("k"), date_format(col("ts"), "HH:mm").as("t"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      rows shouldBe Set(("a", "10:00"), ("z", "12:00"), ("a", "12:30"))
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes source offsets and aggregation state") {
    // The fault-tolerance contract a 100 TB ingest leans on: kill a
    // streaming aggregation mid-stream, restart from the SAME
    // checkpoint, and (a) the file source must NOT reprocess committed
    // files, (b) the state store must carry the first run's partial
    // counts so the final answer equals the batch truth over all input.
    import org.apache.spark.sql.types._
    val root = s"target/tmp/spec_ckpt_${System.nanoTime()}"
    val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    def writeFile(n: String, rows: Seq[(String, Long)]): Unit =
      rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(srcDir)

    writeFile("f1", Seq(("a", 1L), ("a", 2L), ("b", 10L)))
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .groupBy("k").agg(sum(col("v")).as("s"))
      .writeStream.format("memory").queryName("ckpt_test")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Complete()).start()

    val q1 = start()
    q1.processAllAvailable()
    val run1Input = q1.recentProgress.map(_.numInputRows).sum
    q1.stop()
    run1Input shouldBe 3L

    writeFile("f2", Seq(("a", 100L), ("c", 7L)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // (a) offsets resumed: run 2 read ONLY the new file's rows
      q2.recentProgress.map(_.numInputRows).sum shouldBe 2L
      // (b) state recovered: totals include run 1's rows it never re-read
      val got = spark.table("ckpt_test").as[(String, Long)].collect().toSet
      got shouldBe Set(("a", 103L), ("b", 10L), ("c", 7L))
    } finally q2.stop()
  }

  test("quantilePerKey: batch-mode state pass gives exact lower quantiles under K") {
    // mapGroupsWithState over a bounded input = one batch, one state
    // update per key — n <= K keeps the sketch exact, so the emitted
    // quantiles are the literal sorted-rank answers
    import graft.operators.KllSketch.stateEncoder
    val rows = Seq(("a", 1.0), ("a", 3.0), ("a", 5.0), ("a", 7.0),
      ("b", 10.0), ("b", 20.0)).toDS()
    val got = StreamingOps.quantilePerKey(rows, Seq(0.5, 1.0))
      .collect().map(r => (r._1, r._2, r._3)).toSeq.sortBy(_._1)
    got shouldBe Seq(("a", 4L, Seq(3.0, 7.0)), ("b", 2L, Seq(10.0, 20.0)))
  }

  private def mhBucketed(df: org.apache.spark.sql.DataFrame) = df
    .select(col("id"), col("text"),
      explode(graft.operators.Dedup.bandKeysUdf(col("text"), lit(6), lit(3))).as("bk"))
    .select(concat_ws(":", col("bk._1"), col("bk._2")).as("bucket"),
      col("id"), col("text"))
    .as[(String, Long, String)]

  test("incremental minhash index: pair set is batch-split-invariant and equals the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    // tiny corpus: two near-dup pairs (one-token suffix edits), one far doc
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta qq"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven extra"),
      (5L, "completely different tokens here entirely unrelated"))
    val batch = graft.operators.Dedup
      .minHashPairs(docs.toDF("id", "text"), threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    batch shouldBe Set((1L, 2L), (3L, 4L))

    // stream the SAME corpus in an adversarial split: each pair's two
    // members arrive in DIFFERENT batches, so every emission crosses
    // the state-store boundary
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.minHashIndexPairs(
      mhBucketed(mem.toDF().toDF("id", "text")), threshold = 0.4, bucketCap = 64)
    val q = out.toDF("id_a", "id_b", "jaccard_dist")
      .writeStream.format("memory").queryName("mh_idx_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(docs.filter(d => d._1 % 2 == 1).map(d => (d._1, d._2)): _*)
      q.processAllAvailable()
      mem.addData(docs.filter(d => d._1 % 2 == 0).map(d => (d._1, d._2)): _*)
      q.processAllAvailable()
      val streamed = spark.table("mh_idx_test")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      streamed shouldBe batch
    } finally q.stop()
  }

  test("incremental minhash index: bucketCap bounds state and counts refusals") {
    implicit val sqlCtx = spark.sqlContext
    // identical texts all collide into the same buckets; cap 2 admits
    // the first two per bucket, refuses the third (audit, not OOM)
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.minHashIndexPairs(
      mhBucketed(mem.toDF().toDF("id", "text")), threshold = 0.4, bucketCap = 2)
    val q = out.toDF("id_a", "id_b", "jaccard_dist")
      .writeStream.format("memory").queryName("mh_cap_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val t = "same exact duplicated text tokens here"
      mem.addData((1L, t), (2L, t), (3L, t))
      q.processAllAvailable()
      def rows() = spark.table("mh_cap_test")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // doc 3 was refused from state AFTER being verified against the
      // admitted members, so its pairs with 1 and 2 still emit; a
      // LATER arrival must not pair with the refused doc 3
      rows().filter(_._1 >= 0) shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
      // the refusal is EMITTED as an audit sentinel, not silent state
      rows().filter(_._1 < 0).map(_._2).max shouldBe 1L
      mem.addData((4L, t))
      q.processAllAvailable()
      rows().filter(_._1 >= 0) shouldBe
        Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
      rows().filter(_._1 < 0).map(_._2).max shouldBe 2L // cumulative
      // a RE-ARRIVAL of an indexed id is skipped whole: no new pair
      // emission (pairs repeat per colliding band, so compare counts,
      // not presence), no extra refusals
      val nBefore = spark.table("mh_cap_test").count()
      mem.addData((1L, t))
      q.processAllAvailable()
      spark.table("mh_cap_test").count() shouldBe nBefore
      rows().filter(_._1 < 0).map(_._2).max shouldBe 2L // unchanged
    } finally q.stop()
  }

  test("incremental minhash index: saturated refusal memory doesn't inflate the audit on replay") {
    implicit val sqlCtx = spark.sqlContext
    // bucketCap 2 -> refusedCap 32. Admit 2, refuse 34 (32 tracked, 2
    // past the cap), then REPLAY a past-cap id every batch: `dropped`
    // must saturate at 32 — the pre-r12 counter re-bumped on every
    // re-arrival of an untracked id, so a sustained replay inflated
    // the audit without bound (ADVICE r11)
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.minHashIndexPairs(
      mhBucketed(mem.toDF().toDF("id", "text")), threshold = 0.4, bucketCap = 2)
    val q = out.toDF("id_a", "id_b", "jaccard_dist")
      .writeStream.format("memory").queryName("mh_sat_test")
      .outputMode(OutputMode.Append()).start()
    try {
      val t = "same exact duplicated text tokens here"
      mem.addData((1L to 36L).map(i => (i, t)): _*)
      q.processAllAvailable()
      def audit() = spark.table("mh_sat_test")
        .select("id_a", "id_b").as[(Long, Long)].collect()
        .filter(_._1 < 0).map(_._2).max
      audit() shouldBe 32L // 34 refused, 32 remembered = 32 counted
      for (_ <- 1 to 3) { // ids 35/36 fell past the cap: replay one
        mem.addData((36L, t))
        q.processAllAvailable()
      }
      audit() shouldBe 32L // saturated, NOT 33/34/35
    } finally q.stop()
  }

  test("progress-retention saturation yields the sentinel vector, not a silent under-count") {
    implicit val sqlCtx = spark.sqlContext
    // recentProgress retains only the last numRecentProgressUpdates
    // events (default 100): a query driving more batches would silently
    // under-count st_batches/st_input_rows and the plan-baseline diff
    // would narrate phantom row regressions. StreamMetrics.vectorOf
    // must detect the saturated buffer and emit the self-describing
    // sentinel instead (r14, closing the r14-ADVICE latent).
    // retention 4: ProgressReporter trims the buffer to 3 (it dequeues
    // while length >= retention AFTER enqueue), so 4 executed batches
    // leave 3 retained events = the trim line = sentinel territory
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val old = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val mem = MemoryStream[Long]
      val q = mem.toDF().toDF("v").writeStream.format("memory")
        .queryName("progress_sat_test").outputMode(OutputMode.Append()).start()
      try {
        mem.addData(1L); q.processAllAvailable()
        // 1 progress event, below the trim line: the exact vector
        val v1 = graft.streaming.StreamMetrics.vectorOf(q)
        v1(0) shouldBe 1L // batches
        v1(1) shouldBe 1L // input rows
        mem.addData(2L); q.processAllAvailable()
        mem.addData(3L); q.processAllAvailable()
        mem.addData(4L); q.processAllAvailable()
        // 4 batches ran but at most 3 progress events retained: saturated
        val v = graft.streaming.StreamMetrics.vectorOf(q)
        v.toSeq shouldBe Seq.fill(4)(graft.streaming.StreamMetrics.Saturated)
      } finally q.stop()
    } finally spark.conf.set(key, old)
  }

  test("retention conf <= 2 is too small to measure: always the sentinel, never an under-count") {
    implicit val sqlCtx = spark.sqlContext
    // r15 ADVICE: the old max(2, conf) clamp made conf=2 sentinel on
    // every 1-event query; the suggested max(3, conf) would instead
    // make the sentinel unreachable at conf<=2 (buffer never exceeds
    // conf-1 <= 1 < 2), silently reporting a multi-batch query as
    // 1 batch. Pinned contract: retention <= 2 retains at most one
    // event, so NO reading can distinguish 1 batch from N — vectorOf
    // must emit the sentinel unconditionally, for the 1-batch query
    // too (conservative, "raise the conf"), and NEVER the exact-looking
    // but under-counted vector (1, 1, ...) for a 3-batch query.
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try {
      val mem = MemoryStream[Long]
      val q = mem.toDF().toDF("v").writeStream.format("memory")
        .queryName("progress_tiny_cap_test").outputMode(OutputMode.Append()).start()
      try {
        mem.addData(1L); q.processAllAvailable()
        mem.addData(2L); q.processAllAvailable()
        mem.addData(3L); q.processAllAvailable()
        // 3 batches executed; retention 2 keeps 1 progress event — an
        // exact vector here would be the lie (1, 1, _, 1)
        val v = graft.streaming.StreamMetrics.vectorOf(q)
        v.toSeq shouldBe Seq.fill(4)(graft.streaming.StreamMetrics.Saturated)
      } finally q.stop()
    } finally spark.conf.set(key, old)
  }
}
