package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, MultiModal}
import graft.plans.CentsSum
import graft.streaming.StreamingOps
import Queries.Entry
import Tables._

/** Event-time window queries over `events.ts` — the batch-checkable
  * face of the streaming operators (same StreamingOps transforms run
  * under readStream; see StreamingSpec for the incremental execution).
  *
  * Timestamp parity: [[Tables.normalizeTs]] maps every physical form
  * events.parquet has shipped (ns longs, µs NTZ) to session-TZ micros
  * timestamps, and DuckDB reads the same file to the same instants, so
  * window arithmetic agrees. Session-gap compares are done in whole
  * microseconds for the same reason.
  */
object QueriesStreaming {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) = tbl(s, d, "events")

  /** Tumbling 1-hour windows per event type (window() ≡ time_bucket). */
  val stTumbling: Entry = Entry("st_tumbling",
    (s, d) => StreamingOps.tumbling(ev(s, d), col("ts"), col("event_type"),
        col("value"), "1 hour")
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_v"))
      .orderBy("window_start", "event_type"),
    Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      | count(*) AS n, ${sqlDsum("value")} AS sum_v
      |FROM events GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin))

  /** Sliding 1-hour windows every 30 minutes: each event belongs to 2
    * windows (starts floor30(ts) and floor30(ts)−30min) — the oracle
    * materializes exactly that expansion. */
  val stSliding: Entry = Entry("st_sliding",
    (s, d) => StreamingOps.sliding(ev(s, d), col("ts"), col("event_type"),
        col("value"), "1 hour", "30 minutes")
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_v"))
      .orderBy("window_start", "event_type"),
    Some(s"""WITH x AS (
      | SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value FROM events
      | UNION ALL
      | SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS window_start,
      |        event_type, value FROM events)
      |SELECT window_start, event_type, count(*) AS n, ${sqlDsum("value")} AS sum_v
      |FROM x GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin))

  /** The lag/gap-flag/running-sum session construction — one oracle,
    * two independent Spark implementations: the built-in session_window
    * (st_session) and our flatMapGroupsWithState state machine
    * (st_session_custom). The gap compare is in whole microseconds
    * (split when diff ≥ gap, matching session_window's strict-merge
    * semantics). */
  private val sessionOracle =
    """WITH o AS (
      | SELECT user_id, ts,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |        OR date_diff('microsecond', lag(ts) OVER w, ts) >= 28800000000 THEN 1
      |       ELSE 0 END AS brk
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      | FROM o)
      |SELECT user_id, min(ts) AS session_start,
      | max(ts) + INTERVAL '8 hours' AS session_end,
      | count(*) AS n
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Session windows: 8-hour inactivity gap per user, via the built-in
    * session_window. */
  val stSession: Entry = Entry("st_session",
    (s, d) => StreamingOps.session(ev(s, d), col("ts"), col("user_id"), "8 hours")
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"))
      .orderBy("user_id", "session_start"),
    Some(sessionOracle))

  /** The custom-state sessionizer (flatMapGroupsWithState, SURVEY §2.9)
    * run in batch mode against the SAME oracle as st_session: the two
    * Spark paths and DuckDB's window construction must agree on every
    * session boundary. Times flow as whole micros through the state
    * machine and come back as timestamps — full event precision, no
    * millis truncation. */
  val stSessionCustom: Entry = Entry("st_session_custom",
    (s, d) => {
      import s.implicits._
      val gapMicros = 8L * 3600L * 1000000L
      val events = ev(s, d)
        .select(col("user_id").cast("long"), unix_micros(col("ts")))
        .as[(Long, Long)]
      StreamingOps.sessionizeBatch(events, gapMicros).toDF()
        .select(col("userId").as("user_id"),
          timestamp_micros(col("startMs")).as("session_start"),
          timestamp_micros(col("endMs")).as("session_end"),
          col("n"))
        .orderBy("user_id", "session_start")
    },
    Some(sessionOracle))

  private val execSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Isolated session with streaming state partitions sized to the
    * data — the shuffle-partition sizing rule applied where STATE-STORE
    * COUNT, not parallelism, is the cost: every stateful streaming
    * operator commits one or more state stores per shuffle partition
    * per micro-batch (a stream-stream join keeps four), and at the
    * session-wide 32 the filesystem round-trips dominate fixture-scale
    * runs (measured on st_stream_join_exec: 12.8 s at 32 → ~3 s at 4
    * → ~2 s at 2, the floor for fixture-cardinality state). At 100 TB
    * the same knob goes UP with key cardinality; the point is that it
    * is sized deliberately, never defaulted. */
  private def sizedStreamSession(outer: org.apache.spark.sql.SparkSession,
      partitions: Int, ephemeralCkpt: Boolean = true): org.apache.spark.sql.SparkSession = {
    val s = outer.newSession()
    // Stateful-op parallelism vs state-store count: every shuffle
    // partition is one state store per stateful operator per
    // micro-batch (checkpoint files, provider load, commit), but also
    // one addBatch task. r18 A/B at sf0.1 over the heavy entries
    // (session-window, parity-session, stream-join, stream-minhash):
    // 2 → 9.99 s, 4 → 8.18 s, 8 → 8.56 s; the 8 small-state entries
    // read flat 2 vs 4 (7.41 vs 7.29 s) — 4 is the measured knee.
    // Production sizes this to stream rate, not a constant.
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    // Spark 4.x writes a sidecar checksum file per checkpoint file
    // (offset log, commit log, every state delta/snapshot) — literally
    // 2× the checkpoint file count per micro-batch. Checksums guard
    // against long-lived checkpoint corruption on remote object stores;
    // these harness checkpoints are single-use local dirs (and the
    // recovery entry's restart contract is offsets+state CONTENT, which
    // it still verifies hash-exact). Measured: the 13-entry streaming
    // subset 21.4 → ~17 s.
    s.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // Single-use checkpoints go to RAM (r14, VERDICT r13 #6): every
    // micro-batch pays offset-log + commit-log + state-delta filesystem
    // round-trips for a dir the entry deletes on stop — measured
    // 150-250 ms/batch of walCommit/commitOffsets/getBatch plus the
    // state-store IO inside addBatch. The recovery entry opts OUT
    // (ephemeralCkpt = false): its contract is the real durable
    // restart path. See streaming/EphemeralCheckpointFileManager.
    if (ephemeralCkpt)
      s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.EphemeralCheckpointFileManager].getName)
    s
  }

  /** Drop a finished query's single-use checkpoint: the on-disk dir
    * (default manager) AND the RAM footprint (ephemeral manager). */
  private def dropCheckpoint(path: String): Unit = {
    Tables.deleteRecursively(new java.io.File(path))
    graft.streaming.EphemeralCheckpointFileManager.purge(path)
  }

  /** Run `out` as a real micro-batch stream into a memory sink and
    * return the sink table — the one protocol every single-run
    * streaming entry shares:
    *  - the sink name `<tag>_<pid>_<seq>` is unique per JVM AND per
    *    run: the memory sink cannot recover from an existing
    *    checkpoint, so a stale dir from a previous process must never
    *    be reused;
    *  - an explicit checkpoint dir (vs the "temporary location
    *    created" WARN + leaked /tmp dir a default checkpoint brings);
    *  - [[graft.streaming.StreamMetrics.drainAndRecord]] runs the
    *    stream to completion and records its streaming vector;
    *  - `minDataBatches > 0` requires at least that many micro-batches
    *    that read data, so a cross-batch state path cannot silently
    *    collapse into one batch;
    *  - stop and checkpoint drop run in `finally`, so no entry can
    *    leak single-use RAM checkpoint bytes for the JVM lifetime,
    *    on success or on failure. */
  private[graft] def runToMemory(s: org.apache.spark.sql.SparkSession, tag: String,
      out: org.apache.spark.sql.Dataset[_], mode: String,
      minDataBatches: Int = 0): org.apache.spark.sql.DataFrame = {
    val name = s"${tag}_${ProcessHandle.current().pid()}_${execSeq.incrementAndGet()}"
    val ckpt = s"target/tmp/ckpt_$name"
    val q = out.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(mode).start()
    try {
      graft.streaming.StreamMetrics.drainAndRecord(q)
      if (minDataBatches > 0) {
        val fed = q.recentProgress.count(_.numInputRows > 0)
        require(fed >= minDataBatches,
          s"$tag: expected >=$minDataBatches data micro-batches, saw $fed")
      }
    } finally {
      q.stop()
      dropCheckpoint(ckpt)
    }
    s.table(name)
  }

  /** FileStreamSource needs a DIRECTORY; the testdata tables are single
    * parquet files, so stage a byte-identical copy once through
    * [[Tables.fixture]] and return the ts-normalized streaming frame —
    * the same [[Tables.normalizeTs]] the batch side applies.
    * private[graft]: StreamingSpec drives the same staged source, so one
    * helper owns the copy+rebuild invariants. */
  private[graft] def stagedEventsStream(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val src = java.nio.file.Paths.get(s"$d/events.parquet")
    val stage = Tables.fixture("stream_src", d, Seq("events"), "") { tmp =>
      java.nio.file.Files.copy(src, tmp.resolve("events.parquet")): Unit
    }
    val raw = s.readStream
      .schema(s.read.parquet(src.toString).schema)
      .parquet(new java.io.File(stage).getAbsolutePath)
    Tables.normalizeTs(raw)
  }

  /** Streaming EXECUTION under the oracle (not just the shared plan
    * fragment): the same tumbling transform st_tumbling checks in
    * batch, driven through a real file-source readStream micro-batch
    * run into a memory sink, then hash-compared against the identical
    * DuckDB SQL. Complete output mode because the source is finite —
    * append would hold back windows the watermark never passes — and
    * the sink table is the returned result, so a state-management bug
    * (lost window, double-counted batch) fails the gate, where the
    * batch-plan entries could not see it.
    *
    * FileStreamSource needs a directory; the staged copy of
    * events.parquet is harness-fixture IO (load-if-exists, S5
    * semantics). The memory-sink table name is unique per invocation
    * so repeated bench/verify runs don't collide. */
  val stStreamExec: Entry = Entry("st_stream_exec",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stream = stagedEventsStream(s, d)
      runToMemory(s, "st_stream_exec",
        StreamingOps.tumbling(stream, col("ts"), col("event_type"),
            col("value"), "1 hour")
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("sum_v")),
        "complete")
        .orderBy("window_start", "event_type")
    },
    Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      | count(*) AS n, ${sqlDsum("value")} AS sum_v
      |FROM events GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin))

  /** The custom-state sessionizer under REAL incremental execution —
    * the flatMapGroupsWithState machine driven by a file-source
    * readStream with event-time timeouts, its emitted set pinned by an
    * oracle that models streaming finalization exactly: a session
    * emits if a later same-user event closed it (every session but the
    * user's last) OR the end-of-input watermark strictly passed its
    * timeout (`end < max event time` — Spark fires event-time timeouts
    * on `timeout < watermark`, and with a 0s delay the final watermark
    * is the max event time). The user's trailing session otherwise
    * stays in state — that asymmetry vs batch is the semantics under
    * test, not an approximation. Times are in the machine's native
    * milliseconds (`setTimeoutTimestamp` is ms-pinned), so the oracle
    * works in `epoch_ms` — both sides floor the same micros. */
  val stStreamSessionExec: Entry = Entry("st_stream_session_exec",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      import s.implicits._
      val events = stagedEventsStream(s, d)
        .select(col("user_id").cast("long").as("userId"), col("ts").as("eventTime"))
        .withWatermark("eventTime", "0 seconds")
        .as[StreamingOps.SessionEvent]
      runToMemory(s, "st_sess_exec",
          StreamingOps.sessionizeWithState(events, gapMs = 8L * 3600 * 1000), "append")
        .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
          col("endMs").as("end_ms"), col("n"))
        .orderBy("user_id", "start_ms")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS m FROM events),
      |o AS (SELECT user_id, m,
      |  CASE WHEN lag(m) OVER w IS NULL OR m - lag(m) OVER w >= 28800000 THEN 1
      |       ELSE 0 END AS brk
      | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY m)),
      |s AS (SELECT user_id, m,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY m
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      | FROM o),
      |g AS (SELECT user_id, min(m) AS start_ms, max(m) + 28800000 AS end_ms,
      |  count(*) AS n FROM s GROUP BY user_id, sid),
      |l AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY start_ms DESC) AS rn
      | FROM g),
      |mx AS (SELECT max(epoch_ms(ts)) AS maxm FROM events)
      |SELECT user_id, start_ms, end_ms, n FROM l, mx
      |WHERE rn > 1 OR end_ms < maxm
      |ORDER BY user_id, start_ms""".stripMargin))

  /** Text-distinct base docs (min doc_id per text): the synthetic
    * documents table stops being text-unique past sf0.01 (sf0.1 holds
    * 4992 distinct texts over 5000 rows), and the dedup-stream
    * fixtures' determinism REQUIRES distinct base texts — with natural
    * dups, which twin survives dropDuplicates depends on partition
    * order inside a micro-batch, and dups straddling the known-corpus
    * slice boundary break the survivors-set oracle. One canonical rep
    * per text (SQL twin: GROUP BY text, min(doc_id)) restores the
    * invariant at every scale. */
  private def textDistinctDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    tbl(s, d, "documents")
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))

  private val sqlTextDistinctBase =
    "base AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text)"

  /** Stage a sequence of frames as single parquet files in one
    * [[Tables.fixture]] directory keyed by (`source` table, `formula`),
    * ordered for FileStreamSource: distinct ascending mtimes (the
    * source sorts by modification time) + one file per trigger on the
    * reader ([[stagedBatches]]) give one deterministic micro-batch per
    * part. Returns the absolute directory path. */
  private def stageBatchFiles(family: String, d: String, source: String,
      formula: String)(parts: => Seq[(String, org.apache.spark.sql.DataFrame)]): String =
    new java.io.File(Tables.fixture(family, d, Seq(source), formula) { stage =>
      parts.zipWithIndex.foreach { case ((nm, df), i) =>
        val tmp = stage.resolve(s"$nm.tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles().filter(p =>
          p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).head
        val dst = stage.resolve(s"$nm.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        Tables.deleteRecursively(tmp.toFile)
        // pin part i strictly before part i+1 so batch order (and
        // therefore what crosses the state boundary) is deterministic,
        // not copy-timing luck
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
    }).getAbsolutePath

  /** File-source stream over a [[stageBatchFiles]] dir, one staged part
    * per micro-batch; the schema comes from the `first` part. */
  private def stagedBatches(s: org.apache.spark.sql.SparkSession, stage: String,
      first: String = "b0"): org.apache.spark.sql.DataFrame =
    s.readStream
      .schema(s.read.parquet(s"$stage/$first.parquet").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)

  /** The incremental-ingestion fixture: batch file b0 = the base
    * documents, b1 = planted exact copies (doc_id+100000 for
    * doc_id%7==0 — the dd_exact dup slice). Two ordered micro-batches,
    * so the dedup state genuinely crosses a batch boundary. */
  private def stagedDocBatches(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    // formula: bump the leading g2 on any change to the slice/staging
    // formulas (dup offset, copy modulus)
    stageBatchFiles("stream_docs", d, "documents",
        "g2;dup=7;off=100000;files=2;base=text-distinct") {
      val docs = textDistinctDocs(s, d)
      Seq(
        "b0" -> docs,
        "b1" -> docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    }

  /** Incremental corpus-ingestion dedup under REAL streaming execution
    * — the pattern a production pipeline runs when new crawl drops land
    * next to an already-deduped corpus. A file-source stream of
    * incoming documents (two micro-batches, see [[stagedDocBatches]])
    * is digested (xxhash64+length, the dd_exact key: shuffle rows carry
    * ~20 B, never the text), then stream-static LEFT ANTI joined
    * against the known-corpus digest set BEFORE the stateful
    * dropDuplicates — so the dedup state only ever holds digests that
    * are novel vs the corpus, the order that keeps state bounded at
    * 100 TB. (There, the static side is a broadcast/bucketed digest
    * table and the state store would use dropDuplicatesWithinWatermark
    * to bound retention; the finite fixture needs no watermark.)
    *
    * Deterministic because the STAGED base texts are distinct (one
    * canonical rep per text, [[textDistinctDocs]] — the raw table
    * stops being text-unique past sf0.01): every planted b1 copy is dropped
    * either by the anti-join (its source is in the known corpus) or by
    * batch-0 state (its digest was seen), so survivors are exactly the
    * base docs outside the known corpus — SQL-expressible, and the
    * in-query `require` pins that ≥2 micro-batches actually ran, so
    * the cross-batch state path cannot silently collapse into one
    * batch. Known corpus = doc_id%3==0 (overlaps the %7 dup slice at
    * %21, exercising both drop paths on the same stream). */
  val stStreamDedup: Entry = Entry("st_stream_dedup",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stage = stagedDocBatches(outer, d)
      val known = textDistinctDocs(s, d).where(col("doc_id") % 3 === 0)
        .select(xxhash64(col("text")).as("k_digest"),
          length(col("text")).cast("long").as("k_tlen"))
      val out = stagedBatches(s, stage)
        .select(col("doc_id"), xxhash64(col("text")).as("digest"),
          length(col("text")).cast("long").as("tlen"))
        .join(known, col("digest") === col("k_digest") &&
          col("tlen") === col("k_tlen"), "left_anti")
        .dropDuplicates("digest", "tlen")
        .select(col("doc_id"), col("tlen"))
      // >= 2 data batches: cross-batch dedup state
      runToMemory(s, "st_stream_dedup", out, "append", minDataBatches = 2)
        .orderBy("doc_id")
    },
    Some(s"""WITH $sqlTextDistinctBase
      |SELECT doc_id, length(text) AS tlen FROM base
      |WHERE doc_id % 3 <> 0 ORDER BY doc_id""".stripMargin))

  /** Events split into two files at a TIME boundary chosen so at least
    * one click→purchase attribution pair STRADDLES it: the boundary is
    * the median purchase timestamp among qualifying strict pairs, so
    * that purchase lands in batch 1 while its click (strictly earlier)
    * lands in batch 0 — the pair can only be emitted from the join
    * state store. Staged frames carry the NORMALIZED ts
    * ([[Tables.normalizeTs]]: µs-truncated, session-TZ timestamps —
    * exactly what the join itself compares), so the reader below needs
    * no per-generation branch. The scalar aggs here are fixture
    * staging (once per cache key), not the measured operator. */
  private def stagedEventHalves(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    // formula: bump the leading g3 on any change to the split formula
    stageBatchFiles("stream_ev2", d, "events",
        "g3;split=median-straddle-buy;files=2;ts=normalized") {
      val raw = tbl(s, d, "events")
      val us = raw.withColumn("us", unix_micros(col("ts")))
      val c = us.where(col("event_type") === "click")
        .select(col("user_id").as("u"), col("us").as("cus"))
      val p = us.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("us").as("pus"))
      val pairs = c.join(p, col("u") === col("pu") &&
        col("pus") > col("cus") && col("pus") <= col("cus") + 3600L * 1000000L)
      val Array(row) = pairs
        .agg(percentile_approx(col("pus"), lit(0.5), lit(100000))).collect()
      val boundaryUs = row.getLong(0)
      val straddle = pairs
        .where(col("cus") < boundaryUs && col("pus") >= boundaryUs).count()
      require(straddle >= 1,
        s"event split must leave >=1 attribution pair straddling the boundary, got $straddle")
      val bnd = unix_micros(col("ts")) < boundaryUs
      Seq("e0" -> raw.where(bnd), "e1" -> raw.where(!bnd))
    }

  /** Stream-STREAM interval join under real incremental execution — the
    * attribution shape: each purchase matched to every click by the
    * same user in the preceding hour. Both sides come off a file-source
    * readStream (two time-split micro-batches, [[stagedEventHalves]]),
    * carry 0-second watermarks, and join on user equality plus an
    * event-time range — exactly the condition Spark needs to derive
    * state-eviction bounds, so click state older than (watermark − 1h)
    * is dropped as the stream advances: bounded state at 100 TB, not
    * grow-forever. Boundary-straddling pairs (batch-0 click, batch-1
    * purchase ≤ 1h later) exist in the fixture and can ONLY be emitted
    * from the join state store, so a state bug fails the hash; the
    * in-query require pins that ≥2 data micro-batches actually ran.
    * The finite input means every qualifying pair is emitted, so the
    * oracle is the plain batch self-join. */
  /** Run the click→purchase interval join over the staged halves as a
    * REAL micro-batch stream-stream join and return the memory-sink
    * result. Shared engine of st_stream_join_exec and
    * st_batch_parity_join. */
  private def runStreamIntervalJoin(s: org.apache.spark.sql.SparkSession,
      stage: String, tag: String): org.apache.spark.sql.DataFrame = {
    val stream = Tables.normalizeTs(stagedBatches(s, stage, "e0"))
    val clicks = stream.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "0 seconds")
    val buys = stream.where(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"), col("value").as("buy_value"))
      .withWatermark("buy_ts", "0 seconds")
    val out = clicks.join(buys,
        col("user_id") === col("buy_user") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("buy_id"), col("buy_value"))
    // >= 2 data batches: cross-batch join state
    runToMemory(s, tag, out, "append", minDataBatches = 2)
  }

  val stStreamJoin: Entry = Entry("st_stream_join_exec",
    (outer, d) => {
      val stage = stagedEventHalves(outer, d)
      val s = sizedStreamSession(outer, 4)
      runStreamIntervalJoin(s, stage, "st_stream_join")
        .orderBy("click_id", "buy_id")
    },
    Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id,
      | p.value AS buy_value
      |FROM events c JOIN events p
      | ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      |ORDER BY click_id, buy_id""".stripMargin))

  /** The stream/batch parity census: per-side row counts taken BEFORE
    * the reconciliation join (a doubled stream emission joined 2:1
    * against its batch row would otherwise inflate both joined-side
    * counts equally and slip through — independent counts make any
    * multiplicity an n_stream ≠ n_batch red), the full-outer join on
    * the complete output identity `keys` counting rows where
    * `mismatch` holds, and [[withParityOk]]. */
  private def parityCensus(streamRes: org.apache.spark.sql.DataFrame,
      batchRes: org.apache.spark.sql.DataFrame, keys: Seq[String],
      mismatch: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val nS = streamRes.agg(count(lit(1)).as("n_stream"))
    val nB = batchRes.agg(count(lit(1)).as("n_batch"))
    val mm = streamRes.join(batchRes, keys, "full_outer")
      .agg(sum(when(mismatch, 1L).otherwise(0L)).as("n_mismatch"))
    withParityOk(nS.crossJoin(nB).crossJoin(mm))
  }

  private def withParityOk(census: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    census.withColumn("parity_ok",
      col("n_mismatch") === 0 && col("n_stream") === col("n_batch") && col("n_stream") > 0)

  /** Oracle of a parity entry: `ctes` define the expected census, one
    * row per output identity in `from`; both sides count it and the
    * mismatch count is literally zero. */
  private def sqlParity(ctes: String, from: String): String =
    s"""WITH $ctes
       |SELECT CAST(count(*) AS BIGINT) AS n_stream,
       | CAST(count(*) AS BIGINT) AS n_batch,
       | CAST(0 AS BIGINT) AS n_mismatch, TRUE AS parity_ok
       |FROM $from""".stripMargin

  /** Stream-stream JOIN parity audit (r16, completing the parity
    * matrix beside st_batch_parity / st_batch_parity_session): the
    * interval click→purchase join run as a REAL 2+-micro-batch
    * stream-stream join — both sides' state crossing the batch
    * boundary (the staged halves split events so matches straddle) —
    * AND as the identical batch join over the same events table, in
    * ONE plan. Full-outer join on the complete output identity
    * (click_id, buy_id) counts per-side presence plus any
    * user_id/buy_value disagreement; ids are BIGINTs and buy_value is
    * read (never aggregated) on both sides, so equality is bitwise. A
    * dropped straddle pair (join state lost at the boundary), a
    * doubled emission (re-played batch), or a value mixup all flip
    * parity_ok. Oracle recomputes the join census declaratively and
    * asserts zero mismatches literally. */
  val stBatchParityJoin: Entry = Entry("st_batch_parity_join",
    (outer, d) => {
      val stage = stagedEventHalves(outer, d)
      val s = sizedStreamSession(outer, 4)
      val streamRes = runStreamIntervalJoin(s, stage, "st_parity_join")
        .select(col("click_id"), col("buy_id"),
          col("user_id").as("user_s"), col("buy_value").as("val_s"))
      val evs = ev(s, d)
      val clicks = evs.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val buys = evs.where(col("event_type") === "purchase")
        .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"), col("value").as("buy_value"))
      val batchRes = clicks.join(buys,
          col("user_id") === col("buy_user") &&
            col("buy_ts") >= col("click_ts") &&
            col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("buy_id"),
          col("user_id").as("user_b"), col("buy_value").as("val_b"))
      parityCensus(streamRes, batchRes, Seq("click_id", "buy_id"),
        col("user_s").isNull || col("user_b").isNull ||
          col("user_s") =!= col("user_b") || col("val_s") =!= col("val_b"))
    },
    Some(sqlParity("""j AS (
      | SELECT c.event_id AS click_id, p.event_id AS buy_id
      | FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
      | WHERE c.event_type = 'click' AND p.event_type = 'purchase')""".stripMargin, "j")))

  /** CHECKPOINT RECOVERY under the oracle — the fault-tolerance
    * contract a production ingestion pipeline actually relies on: stop
    * a stateful query mid-stream, restart FROM THE SAME CHECKPOINT,
    * and require that (a) source offsets resumed — the restarted query
    * reads only the newly arrived file, never reprocessing batch 0 —
    * and (b) the dedup state store survived the restart — batch-1
    * exact copies of batch-0 docs are dropped by state rebuilt from
    * the checkpoint, not re-emitted.
    *
    * Mechanics: a per-run source dir receives b0 (base docs), a
    * file-sink query (parquet — the recoverable sink; the memory sink
    * of the other exec entries refuses checkpoint reuse) drains it and
    * stops; b1 (planted exact copies, the dd_exact dup slice) then
    * lands and a SECOND start() with the same checkpointLocation +
    * sink path drains that. Both failure modes are hash-visible:
    * offsets lost → b0 re-emitted → doubled rows; state lost → the
    * planted copies survive → extra rows. The in-query requires pin
    * the run shape (each leg fed ≥1 data batch; leg 2 read EXACTLY the
    * b1 file) so the recovery path cannot silently collapse into one
    * continuous run. Scale shape: the checkpoint is the only
    * coordination — offsets + state both partition-local at 1000
    * executors; the staged parts are cached fixtures (S5), the
    * per-run dir holds one ~100 KB copy per leg.
    *
    * Determinism: base texts are distinct (dd_exact: 500 docs → 500
    * groups), so leg 1 emits every base doc and leg 2 emits nothing —
    * the oracle is the plain base-docs projection. Previous runs' dirs
    * are swept at entry (the returned frame stays lazily readable
    * until the NEXT invocation, matching how Verify/Bench consume it). */
  val stStreamRecovery: Entry = Entry("st_stream_recovery",
    (outer, d) => {
      // ephemeralCkpt = false: this entry EXISTS to exercise the real
      // durable checkpoint restart path — RAM checkpoints would still
      // pass in-process but would stop testing the production contract
      val s = sizedStreamSession(outer, 2, ephemeralCkpt = false)
      val partsDir = stagedDocBatches(outer, d)
      val pid = ProcessHandle.current().pid()
      val runId = s"${pid}_${execSeq.incrementAndGet()}"
      val root = java.nio.file.Paths.get("target/tmp")
      // sweep prior runs' dirs (their frames were consumed by the time a
      // new invocation starts) — but only OUR OWN pid's, plus orphans
      // older than an hour: a second suite process sharing this repo
      // dir has live source/checkpoint dirs a name-blind sweep would
      // delete mid-stream
      val staleMs = System.currentTimeMillis() - 3600L * 1000
      Option(root.toFile.listFiles()).foreach(_.filter(f =>
        f.getName.startsWith("recovery_") && f.getName != s"recovery_$runId" &&
          (f.getName.startsWith(s"recovery_${pid}_") || f.lastModified() < staleMs))
        .foreach(Tables.deleteRecursively))
      val base = root.resolve(s"recovery_$runId")
      val srcDir = base.resolve("in")
      val outDir = base.resolve("out")
      val ckpt = base.resolve("ckpt")
      java.nio.file.Files.createDirectories(srcDir)
      def arrive(nm: String): Unit =
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(partsDir, s"$nm.parquet"),
          srcDir.resolve(s"$nm.parquet")): Unit
      val schema = s.read.parquet(s"$partsDir/b0.parquet").schema
      val b1Rows = s.read.parquet(s"$partsDir/b1.parquet").count()
      def startQuery() = s.readStream
        .schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .select(col("doc_id"), xxhash64(col("text")).as("digest"),
          length(col("text")).cast("long").as("tlen"))
        .dropDuplicates("digest", "tlen")
        .select(col("doc_id"), col("tlen"))
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      arrive("b0")
      val q1 = startQuery()
      try {
        graft.streaming.StreamMetrics.drainAndRecord(q1)
        val fed1 = q1.recentProgress.count(_.numInputRows > 0)
        require(fed1 >= 1, s"leg 1 fed no data micro-batch (saw $fed1)")
      } finally q1.stop()
      arrive("b1")
      val q2 = startQuery() // SAME checkpoint + sink: this is the restart
      try {
        graft.streaming.StreamMetrics.drainAndRecord(q2)
        val rows2 = q2.recentProgress.map(_.numInputRows).sum
        require(rows2 == b1Rows,
          s"restart must read exactly the $b1Rows new b1 rows (offsets " +
            s"resumed, b0 not reprocessed) but read $rows2")
      } finally q2.stop()
      s.read.parquet(outDir.toString).orderBy("doc_id")
    },
    Some(s"""WITH $sqlTextDistinctBase
      |SELECT doc_id, length(text) AS tlen FROM base
      |ORDER BY doc_id""".stripMargin))

  /** `dropDuplicatesWithinWatermark` under REAL two-micro-batch
    * execution — the BOUNDED-retention dedup (vs [[stStreamRecovery]]'s
    * unbounded dropDuplicates): state for a key is evicted once the
    * watermark passes its event time + delay, which is the only dedup
    * a 100 TB ingestion stream can afford (global dedup state grows
    * without bound; watermark-scoped state is O(keys per window)).
    *
    * The gate proves BOTH sides of the contract on one run, with the
    * batch choreography Spark's eviction timing actually requires —
    * arrival checks are presence-only and expired state is swept at
    * the END of the batch whose EVICTION watermark (computed from data
    * through the previous batch) passes the expiry, so a re-arrival
    * only survives if it lands at least two batches after the
    * watermark-advancing event:
    *  - batch 0: every doc key at 10:00 (expiry 11:00; wm still -∞);
    *  - batch 1: the driver key (-1) at 20:00 — after it, wm = 19:00;
    *  - batch 2: a driver-key duplicate (presence-dropped); its END
    *    sweeps all doc keys (expiry 11:00 < eviction wm 19:00);
    *  - batch 3: RE-ARRIVALS at 19:30 (doc_id % 7 slice) now find no
    *    state and MUST be emitted — plain dropDuplicates (global
    *    state) would drop them, so a silent fallback hash-fails —
    *    while its driver-key duplicate at 20:00 is still inside the
    *    un-expired window (expiry 21:00 > wm 19:00) → dropped;
    *    emitting it would also hash-fail.
    * The in-query require pins ≥4 data micro-batches so the eviction
    * genuinely happens across batch boundaries (watermark updates
    * BETWEEN batches; fewer batches would run the whole fixture at
    * wm=-∞ and collapse the semantics under test).
    *
    * Event times are fixed literals (the semantics under test are the
    * time relationships, not the data); keys come from the documents
    * table so the oracle derives from the same scan. Output carries
    * epoch-ms so each key's surviving arrivals are distinguishable. */
  /** The watermark-dedup choreography fixture, shared by
    * st_stream_wm_dedup and st_batch_parity_dedup (time-layout
    * rationale in the former's scaladoc). String→timestamp casts
    * resolve in the session time zone (UTC, set by Verify/Bench),
    * matching the oracle's naive TIMESTAMP literals — a
    * java.sql.Timestamp literal would parse in the JVM-default zone. */
  private def stagedWmDedupFixture(outer: org.apache.spark.sql.SparkSession,
      d: String): String = {
    def at(t: String) = lit(s"2030-01-01 $t").cast("timestamp")
    // formula: bump the leading g2 on any change to the time layout
    stageBatchFiles("stream_wmdd", d, "documents",
        "g2;t0=10:00;drv=20:00;re=19:30;delay=1h;files=4") {
      val ids = tbl(outer, d, "documents").select(col("doc_id"))
      val driver = ids.limit(1)
        .select(lit(-1L).as("doc_id"), at("20:00:00").as("ts"))
      Seq(
        "b0" -> ids.select(col("doc_id"), at("10:00:00").as("ts")),
        "b1" -> driver,
        "b2" -> driver, // presence-dup; its end sweeps the doc keys
        "b3" -> ids.where(col("doc_id") % 7 === 0)
          .select(col("doc_id"), at("19:30:00").as("ts"))
          .unionByName(driver))
    }
  }

  /** Run dropDuplicatesWithinWatermark over the staged fixture under
    * REAL micro-batch execution and return the surviving arrivals
    * (doc_id, t_ms) from the memory sink. Shared engine of the two
    * entries below. */
  private def runStreamWmDedup(s: org.apache.spark.sql.SparkSession,
      stage: String, tag: String): org.apache.spark.sql.DataFrame = {
    val out = stagedBatches(s, stage)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), (unix_timestamp(col("ts")) * 1000).as("t_ms"))
    // >= 4 data batches: cross-batch eviction
    runToMemory(s, tag, out, "append", minDataBatches = 4)
  }

  val stStreamWmDedup: Entry = Entry("st_stream_wm_dedup",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      runStreamWmDedup(s, stagedWmDedupFixture(outer, d), "st_wmdd")
        .orderBy("doc_id", "t_ms")
    },
    Some("""WITH out AS (
      | SELECT doc_id, epoch_ms(TIMESTAMP '2030-01-01 10:00:00') AS t_ms
      |   FROM documents
      | UNION ALL
      | SELECT doc_id, epoch_ms(TIMESTAMP '2030-01-01 19:30:00') AS t_ms
      |   FROM documents WHERE doc_id % 7 = 0
      | UNION ALL
      | SELECT -1 AS doc_id, epoch_ms(TIMESTAMP '2030-01-01 20:00:00') AS t_ms)
      |SELECT doc_id, t_ms FROM out ORDER BY doc_id, t_ms""".stripMargin))

  /** STATEFUL streaming↔batch parity audit #3 — the watermark-dedup
    * state class, completing the parity matrix (tumbling agg r15,
    * session window + stream-stream join r16): ONE plan runs
    * dropDuplicatesWithinWatermark under a real 4-micro-batch
    * execution (the [[stagedWmDedupFixture]] eviction choreography)
    * AND its batch twin over the same staged files, then reconciles.
    *
    * The batch twin: first arrival per (key, delay-gap session) —
    * `session_window(ts, delay)` + min(ts). Equivalence argument:
    * under the fixture's guarantees (per-key arrivals are in
    * event-time order, and the driver rows advance the watermark past
    * each arrival era's expiry before the next era lands), a
    * streaming arrival is dropped iff live state for its key exists,
    * i.e. iff some prior arrival of the key lies within the delay —
    * exactly the session_window grouping. Both implementations EXTEND
    * retention on duplicate arrival (Spark keeps the key's max event
    * time; session_window merges chained rows), and the fixture has no
    * sub-delay chains anyway (eras are 9.5 h apart at a 1 h delay; the
    * driver duplicates are at the identical instant), so no
    * chain-extension edge can split the two sides.
    *
    * What flips parity_ok: a silent fallback to GLOBAL dropDuplicates
    * (the 19:30 re-arrivals vanish from the stream side while the
    * batch side keeps them), premature state eviction (the b2/b3
    * driver duplicates get re-emitted), a lost micro-batch, or a
    * doubled emission (independent per-side counts taken BEFORE the
    * reconciliation join — the st_batch_parity_session lesson — so
    * multiplicity lands as n_stream ≠ n_batch). All compared values
    * are exact BIGINTs, so equality is bitwise. The oracle recomputes
    * the expected survivor census declaratively and asserts zero
    * mismatches. */
  val stBatchParityDedup: Entry = Entry("st_batch_parity_dedup",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stage = stagedWmDedupFixture(outer, d)
      val streamRes = runStreamWmDedup(s, stage, "st_parity_wmdd")
        .select(col("doc_id"), col("t_ms"), lit(1L).as("one_s"))
      val batchRes = s.read.parquet(stage)
        .groupBy(session_window(col("ts"), "1 hour"), col("doc_id"))
        .agg(min(col("ts")).as("ts0"))
        .select(col("doc_id"), (unix_timestamp(col("ts0")) * 1000).as("t_ms"),
          lit(1L).as("one_b"))
      parityCensus(streamRes, batchRes, Seq("doc_id", "t_ms"),
        col("one_s").isNull || col("one_b").isNull)
    },
    Some(sqlParity("""out AS (
      | SELECT doc_id FROM documents
      | UNION ALL
      | SELECT doc_id FROM documents WHERE doc_id % 7 = 0
      | UNION ALL
      | SELECT -1 AS doc_id)""".stripMargin, "out")))

  /** STREAMING MEDIA-FINGERPRINT dedup — the streaming tier of the
    * two-tier media-dedup architecture (exact fingerprint dedup at
    * ingest; banded near-dup LSH in batch — mm_near_dup): documents
    * arrive with their image payload fields across two REAL
    * micro-batches, the full binary codec chain (mixed-content BMP
    * encode → real byte decode → dHash64) runs INSIDE the streaming
    * plan's scan stage, and cross-batch `dropDuplicates` state on the
    * 8-byte fingerprint drops batch-1 exact re-uploads of batch-0
    * media while PERTURBED re-uploads (near-dups, a different
    * fingerprint) pass through to the batch LSH pass — the precise
    * division of labor a 100 TB crawl ingest runs. State is 8 bytes
    * per distinct fingerprint, never payloads.
    *
    * Census determinism: the corpus is
    * [[QueriesPipeline.mmCorpusDocs]] (head-capped at the audited 500k
    * slice — see its scaladoc for the sf30 pxMix saturation find);
    * within it batch 0 carries every original (all fingerprints
    * distinct — mm_near_dup's zero non-planted pairs at
    * Hamming ≤ 6 proves no exact collisions, re-proven at sf10);
    * batch 1 carries exact copies (% 11 slice — all dropped by state
    * from batch 0) and perturbed copies (disjoint % 7 slice — each
    * survives iff its perturbation actually flipped a dHash bit,
    * which the oracle REPLAYS per document: the +128 pixel shift
    * flips 0–2 threshold bits, and the 0-flip copies are genuinely
    * exact dups that must drop). The oracle recomputes both
    * fingerprints per perturbed doc and keeps the survivors. */
  /** The "stream_mmdd" staged fixture shared by [[stStreamMmDedup]]
    * and [[mmDedupEndToEnd]] — ONE definition because the two entries
    * share the fixture cache key and [[Tables.fixture]] returns an
    * existing dir as is: whichever entry runs first stages for both,
    * so a second, independently-maintained copy of the parts could
    * silently feed the other entry stale data if one copy were ever
    * edited (ADVICE r17 #1). Any future content change to this corpus
    * must bump the formula ("v2") below in lockstep. */
  private def mmDedupStage(outer: org.apache.spark.sql.SparkSession,
      d: String): String =
    stageBatchFiles("stream_mmdd", d, "documents", "v2") {
      val base = QueriesPipeline.mmCorpusDocs(outer, d).select(col("doc_id"),
        (col("doc_id") % 8 + 16).cast("int").as("w"))
      Seq(
        "b0" -> base.select(col("doc_id").as("id"),
          col("doc_id").as("src"), col("w"), lit(false).as("pert")),
        "b1" -> base.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000).as("id"),
            col("doc_id").as("src"), col("w"), lit(false).as("pert"))
          .unionByName(base
            .where(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
            .select((col("doc_id") + 300000).as("id"),
              col("doc_id").as("src"), col("w"), lit(true).as("pert"))))
    }

  val stStreamMmDedup: Entry = Entry("st_stream_mm_dedup",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stage = mmDedupStage(outer, d)
      val out = stagedBatches(s, stage)
        .select(col("id"), MultiModal.dHash64Udf(MultiModal.encodeBmpMixedUdf(
          col("src"), col("w"), col("w"), col("pert"))).as("ph"))
        .dropDuplicates("ph")
      // >= 2 data batches: cross-batch dedup state
      runToMemory(s, "st_mmdd", out, "append", minDataBatches = 2)
        .orderBy("id")
    },
    Some(s"""WITH ${QueriesPipeline.sqlMmCorpusDocs},
      |corpus AS (
      | SELECT doc_id AS id, doc_id AS src, FALSE AS pert, 0 AS bt FROM mmdocs
      | UNION ALL
      | SELECT doc_id + 300000, doc_id, TRUE, 1 FROM mmdocs
      |  WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0),
      |g AS (SELECT id, src, pert, bt, CAST(16 + src % 8 AS BIGINT) AS w
      | FROM corpus),
      |${MultiModal.sqlDHash("g", carry = Seq("bt"))},
      |orig AS (SELECT id AS src, ph FROM ph WHERE bt = 0)
      |SELECT p.id, p.ph FROM ph p
      |WHERE p.bt = 0
      |   OR p.ph <> (SELECT o.ph FROM orig o WHERE o.src = p.id - 300000)
      |ORDER BY p.id""".stripMargin))

  /** TWO-TIER media dedup composed END-TO-END (VERDICT r16 #3) — the
    * way [[QueriesPipeline.plSemDedupTrained]] composed Lloyd →
    * SemDeDup: the STREAMING tier (exact 8-byte-fingerprint admission
    * state across real micro-batches — the [[stStreamMmDedup]]
    * architecture, same staged fixture plus the % 11 exact re-upload
    * slice) feeds its survivors into the BATCH tier
    * ([[Dedup.hammingBandPairs]] banded near-dup LSH over the
    * survivor fingerprints) in ONE gated entry, and the result is the
    * full per-item ledger a crawl-ingest pipeline acts on:
    *
    *  - `stream_drop` — refused at ingest, fingerprint already
    *    admitted (exact re-uploads, and perturbed copies whose pixel
    *    shift flipped zero dHash bits); canon = -1, the ingest tier
    *    resolves nothing, it just refuses;
    *  - `near_drop`  — admitted, then removed by the batch LSH pass
    *    (Hamming ≤ 6 to a smaller-id survivor); canon = the minimum
    *    matched survivor id, the cluster representative;
    *  - `kept`       — the canonical corpus; canon = own id.
    *
    * The oracle replays BOTH tiers declaratively: the full pxMix →
    * dHash integer pipeline per corpus item, first-batch-wins
    * admission (b1 rows survive iff their fingerprint is absent from
    * b0 — the exact-copy slice recomputes to its original's
    * fingerprint, so it drops without modeling arrival order), then
    * banding, candidate join, and Hamming verify over the survivors.
    * Corpus is [[QueriesPipeline.mmCorpusDocs]] (head-capped at the
    * audited 500k slice): first-wins within a batch is task-order arbitrary, so
    * the oracle needs intra-b0 fingerprints distinct — true on the
    * capped slice, violated past pxMix's 2^21 content states (the
    * sf30 find in QueriesPipeline.mmCorpusDocs' scaladoc).
    * Scale shape: payloads never leave the scan stage in either tier;
    * the streaming state is 8 bytes per distinct fingerprint; the
    * batch exchange carries (id, int64) band rows; the ledger joins
    * are all on (long) ids. */
  val mmDedupEndToEnd: Entry = Entry("mm_dedup_end_to_end",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stage = mmDedupStage(outer, d)
      val admitted = stagedBatches(s, stage)
        .select(col("id"), MultiModal.dHash64Udf(MultiModal.encodeBmpMixedUdf(
          col("src"), col("w"), col("w"), col("pert"))).as("ph"))
        .dropDuplicates("ph")
      // >= 2 data batches: cross-batch dedup state
      val survivors = runToMemory(s, "st_mm_e2e", admitted, "append", minDataBatches = 2)
        .select(col("id"), col("ph"))
      val nearDrops = Dedup.hammingBandPairs(survivors, maxHamming = 6)
        .groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("nd_canon"))
      val allIds = s.read.parquet(stage).select(col("id"))
      allIds
        .join(survivors.select(col("id"), lit(1).as("surv")), Seq("id"), "left")
        .join(nearDrops, Seq("id"), "left")
        .select(col("id"),
          when(col("surv").isNull, "stream_drop")
            .when(col("nd_canon").isNotNull, "near_drop")
            .otherwise("kept").as("status"),
          when(col("surv").isNull, lit(-1L))
            .when(col("nd_canon").isNotNull, col("nd_canon"))
            .otherwise(col("id")).cast("long").as("canon"))
        .orderBy("id")
    },
    Some(s"""WITH ${QueriesPipeline.sqlMmCorpusDocs},
      |corpus AS MATERIALIZED (
      | SELECT doc_id AS id, doc_id AS src, FALSE AS pert, 0 AS bt FROM mmdocs
      | UNION ALL
      | SELECT doc_id + 100000, doc_id, FALSE, 1 FROM mmdocs
      |  WHERE doc_id % 11 = 0
      | UNION ALL
      | SELECT doc_id + 300000, doc_id, TRUE, 1 FROM mmdocs
      |  WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0),
      |g AS (SELECT id, src, pert, bt, CAST(16 + src % 8 AS BIGINT) AS w
      | FROM corpus),
      |${MultiModal.sqlDHash("g", carry = Seq("bt"))},
      |surv AS MATERIALIZED (
      | SELECT p.id, p.ph FROM ph p WHERE p.bt = 0
      | UNION ALL
      | SELECT p.id, p.ph FROM ph p WHERE p.bt = 1
      |   AND NOT EXISTS (SELECT 1 FROM ph o WHERE o.bt = 0 AND o.ph = p.ph)),
      |${Dedup.bandSqlCte("surv")},
      |cand AS (SELECT DISTINCT a.id AS id_a, a.ph AS pa, c.id AS id_b, c.ph AS pb
      | FROM bands a JOIN bands c ON a.b = c.b AND a.k = c.k AND a.id < c.id),
      |nd AS (SELECT id_b AS id, min(id_a) AS nd_canon FROM cand
      | WHERE bit_count(xor(pa, pb)) <= 6 GROUP BY id_b)
      |SELECT c.id,
      | CASE WHEN sv.id IS NULL THEN 'stream_drop'
      |      WHEN nd.id IS NOT NULL THEN 'near_drop'
      |      ELSE 'kept' END AS status,
      | CAST(CASE WHEN sv.id IS NULL THEN -1
      |      WHEN nd.id IS NOT NULL THEN nd.nd_canon
      |      ELSE c.id END AS BIGINT) AS canon
      |FROM corpus c
      |LEFT JOIN surv sv ON sv.id = c.id
      |LEFT JOIN nd ON nd.id = c.id
      |ORDER BY c.id""".stripMargin))

  /** TRAIN-ON-CURATED, SCORE-THE-STREAM (VERDICT r16 #6): the
    * [[QueriesMl.qualityModel]] scorer (the pl_quality_classifier fit,
    * trained in BATCH on the id-hash train split) applied INSIDE a
    * streaming ingest plan — featurization and model scoring run
    * row-locally in the scan stage of every REAL micro-batch (the
    * st_stream_mm_dedup pattern with an MLlib model in place of the
    * codec chain), with cross-batch ADMISSION state: `dropDuplicates`
    * on doc_id refuses batch-1 re-submissions of batch-0 documents
    * before they are ever re-scored. This is the production ingest
    * loop the fastText-curation papers describe — retrain offline,
    * push the model into the stream, dedup the feed in front of it.
    *
    * Gate-literal (the mlCvLogloss pattern): the hashed row is the
    * deterministic spine — n_unique (post-state census = the document
    * count: doc_id is the PK, so first-wins needs no arrival-order
    * modeling) and n_dup_dropped (the staged re-submission slice) —
    * plus admit_gate_ok asserted literally TRUE: the stream-side
    * predictions must agree with the planted label on > 90% of
    * admitted-or-rejected docs (measured 1.0 — exact linear
    * separability, 4× margin over the gate) AND genuinely split the
    * corpus (0 < n_admitted < n_unique; the label is ~51% positive).
    * A model that degrades in transit to the streaming plan, a lost
    * micro-batch, or broken admission state flips a gate or the
    * census. The in-query require pins ≥ 2 data micro-batches.
    * Scale shape: scoring is a scan-stage map (broadcast coefficient
    * vector); state is 8 bytes per admitted id; the gate agg is a
    * 1-row reduction. */
  val stStreamQualityGate: Entry = Entry("st_stream_quality_gate",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val model = QueriesMl.qualityModel(
        QueriesMl.qualityFeatures(tbl(outer, d, "documents")))
      val stage = stageBatchFiles("stream_qgate", d, "documents", "v1") {
        val docs = tbl(outer, d, "documents").select(col("doc_id"), col("text"))
        Seq(
          "b0" -> docs.where(col("doc_id") % 2 === 0),
          "b1" -> docs.where(col("doc_id") % 2 =!= 0)
            .unionByName(docs.where(col("doc_id") % 6 === 0)))
      }
      val incoming = QueriesMl.qualityFeatures(stagedBatches(s, stage))
      val out = Model.prob1(model.transform(incoming))
        .select(col("doc_id"), col("label"), col("pred"))
        .dropDuplicates("doc_id")
      // >= 2 data batches: cross-batch admission state
      val scored = runToMemory(s, "st_qgate", out, "append", minDataBatches = 2)
      val stagedN = s.read.parquet(stage).agg(count(lit(1)).as("n_staged"))
      val agg = scored.agg(count(lit(1)).as("n_unique"),
        sum(when(col("pred") >= 0.5, 1L).otherwise(0L)).as("n_admitted"),
        sum(when((col("pred") >= 0.5) === (col("label") >= 0.5), 1L)
          .otherwise(0L)).as("n_agree"))
      stagedN.crossJoin(agg).select(
        col("n_unique"),
        (col("n_staged") - col("n_unique")).as("n_dup_dropped"),
        (col("n_agree").cast("double") >= col("n_unique").cast("double") * 0.9 &&
          col("n_admitted") > 0 && col("n_admitted") < col("n_unique"))
          .as("admit_gate_ok"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_unique,
      | CAST(sum(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_dup_dropped,
      | TRUE AS admit_gate_ok
      |FROM documents""".stripMargin))

  /** Incrementally-maintained per-key quantiles under REAL streaming
    * execution — [[StreamingOps.quantilePerKey]]: a KLL sketch per
    * language held in mapGroupsWithState state, updated across two
    * genuine micro-batches (even doc_ids then odd, so every language's
    * state crosses the batch boundary), then the final emission per
    * key gated the g_quantile_sketch way: estimates inside the exact
    * ±2%-rank percentile brackets of the FULL corpus (computed in
    * batch) plus exact count equality — a lost batch, dropped state,
    * or broken resume flips quality_ok or the count gate. Sketch
    * content is arrival-order dependent, so the estimates fold into
    * the gate and the entry is ORACLE-GREEN since r11 via the
    * gate-literal pattern (see g_approx_distinct): the hashed result
    * is (lang, n_sketch, quality_ok) with the oracle recomputing the
    * per-lang counts and asserting the gate literally true. The
    * in-query require pins ≥2 data micro-batches. State per key is
    * O(K·log n) doubles, bounded for however long the stream runs —
    * the argument for sketch-valued state at 100 TB. */
  val stStreamQuantile: Entry = Entry("st_stream_quantile",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      import s.implicits._
      import graft.operators.KllSketch.stateEncoder
      val eps = 0.02
      val qs = Seq(0.25, 0.5, 0.75, 0.95)
      val stage = stageBatchFiles("stream_qdoc", d, "documents", "v1") {
        val docs = tbl(outer, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        Seq("b0" -> docs.where(col("doc_id") % 2 === 0),
          "b1" -> docs.where(col("doc_id") % 2 =!= 0))
      }
      val incoming = stagedBatches(s, stage)
        .select(col("lang"), col("n_chars").cast("double")).as[(String, Double)]
      val out = StreamingOps.quantilePerKey(incoming, qs)
        .map { case (lang, n, e) => (lang, n, e(0), e(1), e(2), e(3)) }
        .toDF("lang", "n_sketch", "e25", "e50", "e75", "e95")
      // >= 2 data batches: cross-batch sketch state
      val emitted = runToMemory(s, "st_qtl", out, "update", minDataBatches = 2)
      // update-mode memory sink keeps every per-batch emission; the
      // final answer per key is the one with the highest count (counts
      // strictly grow when a batch touches the key)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_sketch").desc)
      val fin = emitted
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      val bks = tbl(s, d, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_exact"),
        percentile(col("n_chars").cast("double"),
          typedLit(qs.map(_ - eps) ++ qs.map(_ + eps))).as("lohi"))
      fin.join(bks, Seq("lang"))
        .withColumn("quality_ok",
          col("n_sketch") === col("n_exact") &&
            (0 until 4).map(i =>
              col(Seq("e25", "e50", "e75", "e95")(i))
                .between(element_at(col("lohi"), i + 1),
                  element_at(col("lohi"), i + 5))).reduce(_ && _))
        .select(col("lang"), col("n_sketch"), col("quality_ok"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_sketch, TRUE AS quality_ok
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The BUILT-IN session_window operator under REAL micro-batch
    * execution — st_session proves the batch spelling against the
    * lag/gap oracle and st_stream_session_exec proves the custom-state
    * path; this closes the matrix: Spark's native session aggregation
    * with watermarked append-mode finalization, sessions crossing the
    * batch boundary (event_id-parity split, so most users have rows in
    * BOTH data batches and their open session state must merge).
    * Choreography (the st_stream_wm_dedup lesson): the 40-day
    * watermark delay covers the fixture's whole 30-day event span, so
    * nothing in batch 1 is late w.r.t. batch 0's max; two driver rows
    * at 2031 then advance the watermark past every real session's end
    * — eviction uses the PREVIOUS batch's watermark, hence driver
    * batch b3 — flushing ALL real sessions to the append sink while
    * the driver's own still-open session never finalizes (excluded by
    * key anyway). Oracle: the same declarative lag/gap construction
    * st_session uses, driver key filtered. */
  /** The session-window choreography fixture, shared by
    * st_stream_session_window and st_batch_parity_session: real events
    * split by event_id parity (most users have rows in BOTH data
    * batches, so open-session state must merge across the boundary),
    * then two 2031 driver rows that advance the watermark past every
    * real session's end — eviction uses the PREVIOUS batch's watermark,
    * hence the second driver batch — flushing ALL real sessions to the
    * append sink. */
  private def stagedSessionWindowFixture(outer: org.apache.spark.sql.SparkSession,
      d: String): String = {
    def at(t: String) = lit(s"2031-01-01 $t").cast("timestamp")
    stageBatchFiles("stream_sesswin", d, "events", "v1") {
      val base = tbl(outer, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val driver1 = base.limit(1)
        .select(lit(-1L).as("user_id"), at("00:00:00").as("ts"))
      val driver2 = base.limit(1)
        .select(lit(-1L).as("user_id"), at("16:00:00").as("ts"))
      Seq(
        "b0" -> base.where(col("event_id") % 2 === 0).select(col("user_id"), col("ts")),
        "b1" -> base.where(col("event_id") % 2 =!= 0).select(col("user_id"), col("ts")),
        "b2" -> driver1,
        "b3" -> driver2)
    }
  }

  /** Run the native session_window aggregation over the staged fixture
    * under REAL micro-batch execution (append mode, watermark-driven
    * finalization) and return the finalized real-user sessions from the
    * memory sink. Shared engine of the two entries below. */
  private def runStreamSessionWindow(s: org.apache.spark.sql.SparkSession,
      stage: String, tag: String): org.apache.spark.sql.DataFrame = {
    val out = stagedBatches(s, stage)
      .withWatermark("ts", "40 days")
      .groupBy(session_window(col("ts"), "8 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))
    // >= 4 data batches: cross-batch session merge + flush
    runToMemory(s, tag, out, "append", minDataBatches = 4)
      .where(col("user_id") >= 0)
  }

  val stStreamSessionWindow: Entry = Entry("st_stream_session_window",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stage = stagedSessionWindowFixture(outer, d)
      runStreamSessionWindow(s, stage, "st_sesswin")
        .orderBy("user_id", "session_start")
    },
    Some(sessionOracle))

  /** STATEFUL streaming↔batch parity audit (VERDICT r15 #1) — the
    * st_batch_parity pattern pushed to the operator class where stream
    * and batch semantics genuinely diverge: session windows with state
    * merged across micro-batch boundaries and emitted only by
    * watermark-driven append finalization (late data, state eviction,
    * output-mode timing — none of which the stateless tumbling row
    * exercises). ONE plan runs the native session_window both ways —
    * a real 4-micro-batch file-source execution (fixture choreography
    * in [[stagedSessionWindowFixture]]: parity-split events force
    * cross-batch session merges; 2031 driver rows advance the
    * watermark past every real session's end so append mode flushes
    * them all) and the identical batch spelling over the same events
    * table — then full-outer joins on the complete session identity
    * (user_id, start, end) and counts any disagreement, including the
    * per-session row count n. All compared values are exact (BIGINT
    * counts, micros timestamps), so equality is bitwise. The oracle
    * recomputes the session census declaratively (the same lag/gap
    * construction st_session pins) and asserts the mismatch count
    * literally zero. A lost micro-batch, an unmerged cross-boundary
    * session, a watermark that fails to flush, or an eviction that
    * drops a still-open session all flip parity_ok. */
  val stBatchParitySession: Entry = Entry("st_batch_parity_session",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stage = stagedSessionWindowFixture(outer, d)
      val streamRes = runStreamSessionWindow(s, stage, "st_parity_sess")
        .select(col("user_id"), col("session_start").as("ss"),
          col("session_end").as("se"), col("n").as("n_s"))
      val batchRes = ev(s, d)
        .groupBy(session_window(col("ts"), "8 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_b"))
        .select(col("user_id"), col("session_window.start").as("ss"),
          col("session_window.end").as("se"), col("n_b"))
      parityCensus(streamRes, batchRes, Seq("user_id", "ss", "se"),
        col("n_s").isNull || col("n_b").isNull || col("n_s") =!= col("n_b"))
    },
    Some(sqlParity("""o AS (
      | SELECT user_id, ts,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |        OR date_diff('microsecond', lag(ts) OVER w, ts) >= 28800000000 THEN 1
      |       ELSE 0 END AS brk
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      | FROM o),
      |g AS (SELECT user_id, sid FROM s GROUP BY user_id, sid)""".stripMargin, "g")))

  /** Streaming per-key top-k under REAL micro-batch execution —
    * [[StreamingOps.topKPerKey]]: a SpaceSaving summary per language
    * held in mapGroupsWithState state, folded across two genuine
    * micro-batches (even doc_ids then odd, so every language's counters
    * cross the batch boundary and round-trip the state store encoder).
    * Capacity (64) exceeds the per-language source cardinality (~20),
    * so the SpaceSaving counts are EXACT and the final emission is
    * hash-comparable against the plain SQL top-3-per-group oracle —
    * same (count desc, source asc) tie-break on both sides. Below
    * capacity the same operator degrades gracefully to the ±err
    * overestimate bound it also emits; the entry pins the exact
    * regime, the spec pins the eviction regime.
    *
    * Scale shape: state per key is O(capacity) counters no matter how
    * long the stream runs or how many distinct values arrive — the
    * whole argument for sketch-valued top-k state at 100 TB (exact
    * per-key maps grow with distinct-value cardinality and OOM the
    * state store). */
  val stStreamTopK: Entry = Entry("st_stream_topk",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      import s.implicits._
      import graft.operators.HeavyHitters.ssStateEncoder
      val stage = stageBatchFiles("stream_topk", d, "documents", "v1") {
        val docs = tbl(outer, d, "documents").select(col("doc_id"),
          col("lang"), col("source"))
        Seq("b0" -> docs.where(col("doc_id") % 2 === 0),
          "b1" -> docs.where(col("doc_id") % 2 =!= 0))
      }
      val incoming = stagedBatches(s, stage)
        .select(col("lang"), col("source")).as[(String, String)]
      val out = StreamingOps.topKPerKey(incoming, k = 3, capacity = 64)
        .map { case (lang, tot, ks, cs, _) => (lang, tot, ks, cs) }
        .toDF("lang", "n_seen", "top_sources", "top_cnts")
      // >= 2 data batches: cross-batch top-k state
      val emitted = runToMemory(s, "st_topk", out, "update", minDataBatches = 2)
      // update-mode memory sink keeps every per-batch emission; the
      // final answer per key is the one with the highest n_seen (totals
      // strictly grow when a batch touches the key)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_seen").desc)
      emitted
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("lang"), col("n_seen"),
          posexplode(arrays_zip(col("top_sources"), col("top_cnts"))))
        .select(col("lang"), col("n_seen"),
          (col("pos") + 1).cast("long").as("rank"),
          col("col.top_sources").as("source"), col("col.top_cnts").as("cnt"))
        .orderBy("lang", "rank")
    },
    Some("""WITH c AS MATERIALIZED (SELECT lang, source, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_seen FROM c GROUP BY 1),
      |r AS (SELECT lang, source, cnt,
      |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, source) AS rank
      |  FROM c)
      |SELECT r.lang, t.n_seen, r.rank, r.source, r.cnt
      |FROM r JOIN t ON r.lang = t.lang
      |WHERE r.rank <= 3 ORDER BY r.lang, r.rank""".stripMargin))

  /** Streaming CDC apply under REAL micro-batch execution — the
    * incremental twin of o_cdc_apply's batch latest-wins replay: the
    * keyed change log streams across two genuine micro-batches (even
    * event_ids then odd, so a key's winning change can arrive in
    * either batch and the current row must round-trip the state
    * store), mapGroupsWithState holds each key's latest
    * (seq, value, tombstone) by monotone sequence number, and every
    * batch emits the key's current materialized row (update mode).
    * The final answer per key is the highest-seq emission; keys whose
    * latest change is a tombstone ('error' events here) are absent —
    * exactly the keyed-table semantics a streaming lakehouse MERGE
    * maintains. Hash-compared against the plain latest-wins window
    * oracle, so a lost batch, a state round-trip bug, or
    * tombstone-resurrection fails the gate.
    *
    * Scale shape: state per key is ONE (long, long, bool) row no
    * matter how long the log runs; the only shuffle is the keyed
    * groupBy. */
  val stStreamCdc: Entry = Entry("st_stream_cdc",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      import s.implicits._
      val stage = stageBatchFiles("stream_cdc", d, "events", "v1") {
        val ev = tbl(outer, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        Seq("b0" -> ev.where(col("event_id") % 2 === 0),
          "b1" -> ev.where(col("event_id") % 2 =!= 0))
      }
      val incoming = stagedBatches(s, stage)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          CentsSum.cents(col("value")),
          (col("event_type") === "error").as("del"))
        .as[(Long, Long, Long, Boolean)]
      val out = incoming.groupByKey(_._1)
        .mapGroupsWithState[(Long, Long, Boolean), (Long, Long, Long, Boolean)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
          (uid: Long, rows: Iterator[(Long, Long, Long, Boolean)],
              state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Boolean)]) =>
            var (seq, v, del) = state.getOption.getOrElse((-1L, 0L, false))
            rows.foreach { case (_, e, c, dl) =>
              if (e > seq) { seq = e; v = c; del = dl }
            }
            state.update((seq, v, del))
            (uid, seq, v, del)
        }
        .toDF("user_id", "last_seq", "cents", "deleted")
      // >= 2 data batches: cross-batch CDC state
      val emitted = runToMemory(s, "st_cdc", out, "update", minDataBatches = 2)
      // update-mode memory sink keeps every per-batch emission; the
      // final materialized row per key is the highest-seq one
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("last_seq").desc)
      emitted
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && !col("deleted"))
        .select(col("user_id"), col("last_seq"), col("cents"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |  event_type FROM events),
      |r AS (SELECT user_id, event_id, cents, event_type,
      |  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      | FROM e)
      |SELECT user_id, event_id AS last_seq, cents
      |FROM r WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin))

  /** INCREMENTAL MinHash index maintenance under real micro-batch
    * execution — the near-dup half of the ingestion-dedup story
    * (st_stream_dedup is the exact half): the base corpus lands in
    * batch 0 and builds the LSH band index in bucket state; the
    * planted near-dup variants (the dd_minhash_lsh corpus: ' qq17'
    * suffix at Jaccard ≤ 0.15) land in batch 1 and are verified
    * against state from a DIFFERENT micro-batch, so every emitted
    * pair crosses the state-store boundary. The emitted pair set over
    * the finite stream equals the batch operator's output on the full
    * corpus ([[StreamingOps.minHashIndexPairs]]), so the entry shares
    * dd_minhash_lsh's brute-force oracle — recall is provable on this
    * corpus (nearest non-qualifying pair beyond 0.6; banded catch
    * probability at the frontier effectively 1, verified
    * bit-identical), and precision is the in-state exact-Jaccard
    * verify. Scale shape: band explode is map-side in the source
    * stage; the only shuffle is the bucket groupBy; state per bucket
    * is bucketCap-bounded with an audit count. */
  val stStreamMinhash: Entry = Entry("st_stream_minhash",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      import s.implicits._
      // v3: base corpus under the shared sf-conditional HEAD sample
      // (a no-op at shipped SFs; bounds the O(N²) oracle above them —
      // v2→v3 folds the r14 %k→head sample-shape change into the
      // stage key, which dataVer alone can't see)
      val stage = stageBatchFiles("stream_mh", d, "documents", "v3") {
        // the SAME base + plant rule as dd_minhash_lsh, by reference
        val base = QueriesPipeline.minhashBaseDocs(outer, d)
        Seq("b0" -> base, "b1" -> QueriesPipeline.nearDupVariants(base))
      }
      val incoming = stagedBatches(s, stage)
        .select(col("id"), col("text"),
          explode(graft.operators.Dedup.bandKeysUdf(
            col("text"), lit(6), lit(3))).as("bk"))
        .select(concat_ws(":", col("bk._1"), col("bk._2")).as("bucket"),
          col("id"), col("text"))
        .as[(String, Long, String)]
      val out = StreamingOps.minHashIndexPairs(incoming,
          threshold = 0.4, bucketCap = 64)
        .toDF("id_a", "id_b", "jaccard_dist")
      // >= 2 data batches: cross-batch index state
      val pairs = runToMemory(s, "st_mh", out, "append", minDataBatches = 2)
      // the cap must not bind on gate data: a refusal would silently
      // lose pairs vs the oracle — the operator emits it as a sentinel
      // (id_a = -1), so assert loudly instead of hash-failing obscurely
      val refused = pairs.where(col("id_a") < 0).count()
      require(refused == 0, s"minhash bucketCap refused docs on gate data ($refused audit rows)")
      // a pair can collide in >1 band (distinct groups emit the same
      // pair with the same dist) — same dedup as the batch operator
      pairs.where(col("id_a") >= 0).dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b"),
          round(col("jaccard_dist"), 6).as("jaccard_dist"))
        .orderBy("id_a", "id_b")
    },
    Some(QueriesPipeline.minhashLshOracle))

  /** Streaming↔batch parity audit (VERDICT r14 #6) — ONE gate row that
    * hash-compares a real micro-batch streaming execution against its
    * batch spelling END-TO-END, closing the boundary the 16 streaming
    * entries cross ad hoc (each checks stream-vs-DuckDB or
    * batch-vs-DuckDB; none checked stream-vs-batch in one plan). The
    * same `StreamingOps.tumbling` transform runs twice — once driven
    * through a file-source readStream into a memory sink, once as a
    * batch plan over the same table — and a full-outer join on the
    * group keys counts rows present on each side and any (n, sum_v)
    * disagreement. sum_v is the exact-DECIMAL dsum, so the equality is
    * bitwise regardless of either side's aggregation order — a batch
    * double-sum would make this gate flaky by construction. The oracle
    * recomputes the group census in DuckDB and asserts the mismatch
    * count literally zero (the sim_ann_recall_audit observability
    * pattern at the streaming/batch boundary). */
  val stBatchParity: Entry = Entry("st_batch_parity",
    (outer, d) => {
      val s = sizedStreamSession(outer, 4)
      val stream = stagedEventsStream(s, d)
      val streamRes = runToMemory(s, "st_batch_parity",
        StreamingOps.tumbling(stream, col("ts"), col("event_type"),
            col("value"), "1 hour")
          .select(col("window.start").as("ws"), col("event_type"),
            col("n").as("n_s"), col("sum_v").as("sum_s")),
        "complete")
      val batchRes = StreamingOps.tumbling(ev(s, d), col("ts"),
          col("event_type"), col("value"), "1 hour")
        .select(col("window.start").as("ws"), col("event_type"),
          col("n").as("n_b"), col("sum_v").as("sum_b"))
      val census = streamRes.join(batchRes, Seq("ws", "event_type"), "full_outer")
        .agg(
          sum(when(col("n_s").isNotNull, 1L).otherwise(0L)).as("n_stream"),
          sum(when(col("n_b").isNotNull, 1L).otherwise(0L)).as("n_batch"),
          sum(when(col("n_s").isNull || col("n_b").isNull ||
            col("n_s") =!= col("n_b") || col("sum_s") =!= col("sum_b"), 1L)
            .otherwise(0L)).as("n_mismatch"))
      // post-join counts: counting before the join would re-run the
      // batch aggregate; the oracle pins n_stream to the group count,
      // so a doubled emission still fails the gate
      withParityOk(census)
    },
    Some(sqlParity("""g AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
      |  event_type FROM events GROUP BY 1, 2)""".stripMargin, "g")))

  val all: Seq[Entry] = Seq(stTumbling, stSliding, stSession, stSessionCustom,
    stStreamExec, stStreamSessionExec, stStreamDedup, stStreamJoin,
    stStreamRecovery, stStreamWmDedup, stStreamQuantile, stStreamTopK,
    stStreamCdc,
    stStreamSessionWindow, stStreamMinhash, stBatchParity,
    stBatchParitySession, stBatchParityJoin, stBatchParityDedup,
    stStreamMmDedup, mmDedupEndToEnd, stStreamQualityGate)
}
