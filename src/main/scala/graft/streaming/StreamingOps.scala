package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY.md §2.9 / §7.1-6: event-time window transforms, written once
  * and used from BOTH batch queries (the DuckDB-checkable surface) and
  * Structured Streaming (`readStream → transform → writeStream`) — the
  * transforms are plan fragments, so the same code runs incrementally
  * with watermark-driven state eviction.
  *
  * Scale notes: windowed counts/sums are partial-aggregated before the
  * shuffle on (window, key); session windows shuffle on the session key
  * (user) and merge per-key — the standard streaming-state layout. The
  * watermark bounds state size at 100 TB/day rates; without it a
  * streaming session/window agg would grow state unboundedly.
  */
object StreamingOps {

  /** Tumbling event-time windows: count + exact-decimal sum per
    * (window, key). */
  def tumbling(df: DataFrame, ts: Column, key: Column, value: Column,
      width: String): DataFrame =
    df.groupBy(window(ts, width), key)
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(value).as("sum_v"))

  /** Sliding windows (width, slide): each event lands in width/slide
    * windows via the built-in window expansion. */
  def sliding(df: DataFrame, ts: Column, key: Column, value: Column,
      width: String, slide: String): DataFrame =
    df.groupBy(window(ts, width, slide), key)
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(value).as("sum_v"))

  /** Session windows with a fixed inactivity gap, keyed per user. */
  def session(df: DataFrame, ts: Column, key: Column, gap: String): DataFrame =
    df.groupBy(session_window(ts, gap), key)
      .agg(count(lit(1)).as("n"))

  /** Event fed to the custom-state sessionizer. `eventTime` must be
    * the watermarked column of the source stream (the watermark
    * drives EventTimeTimeout). */
  case class SessionEvent(userId: Long, eventTime: java.sql.Timestamp)
  /** Open-session state kept per key between triggers (epoch millis). */
  case class SessionState(startMs: Long, lastMs: Long, n: Long)
  /** A completed session emitted once its gap closes (or times out). */
  case class SessionResult(userId: Long, startMs: Long, endMs: Long, n: Long)

  /** The session state machine, unit-agnostic (times and `gap` share
    * one unit — millis in the streaming wrapper, micros in the batch
    * gate): fold a key's sorted event times into (closed sessions,
    * still-open session), continuing from an optional carried-in open
    * state. Split when ts − last ≥ gap (the strict-merge semantics of
    * session_window and the lag/gap oracle). An out-of-order
    * (within-watermark) event may carry a ts older than lastMs — the
    * session must only ever extend, never shrink, or later
    * merge/timeout decisions are computed against a regressed end. */
  private[streaming] def foldSessions(init: Option[SessionState],
      sortedTimes: Array[Long], gap: Long): (List[SessionState], Option[SessionState]) = {
    val closed = scala.collection.mutable.ListBuffer[SessionState]()
    var cur = init
    for (ts <- sortedTimes) {
      cur match {
        case Some(s) if ts - s.lastMs >= gap =>
          closed += s
          cur = Some(SessionState(ts, ts, 1))
        case Some(s) =>
          cur = Some(SessionState(math.min(s.startMs, ts), math.max(s.lastMs, ts), s.n + 1))
        case None =>
          cur = Some(SessionState(ts, ts, 1))
      }
    }
    (closed.toList, cur)
  }

  /** Custom streaming state (SURVEY §2.9 / brief: KeyValueGroupedDataset
    * .flatMapGroupsWithState): gap-based sessionization where WE own
    * the state machine — the generalization of session_window for
    * session logic the built-in cannot express (e.g. per-session
    * aggregates, early emission). Event-time timeout fires a key's
    * final session once the watermark passes last + gap; state per key
    * is O(1), so total state is bounded by live keys regardless of
    * input rate — the 100 TB/day contract.
    *
    * Input must carry an event-time column named `eventTime`
    * (TimestampType) with a watermark already applied. */
  def sessionizeWithState(events: Dataset[SessionEvent], gapMs: Long)(
      implicit enc1: org.apache.spark.sql.Encoder[Long],
      enc2: org.apache.spark.sql.Encoder[SessionState],
      enc3: org.apache.spark.sql.Encoder[SessionResult]): Dataset[SessionResult] = {
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, SessionResult](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(SessionResult(userId, s.startMs, s.lastMs + gapMs, s.n))
          } else {
            val sorted = rows.map(_.eventTime.getTime).toArray.sorted
            val (closed, open) = foldSessions(state.getOption, sorted, gapMs)
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.iterator.map(s => SessionResult(userId, s.startMs, s.lastMs + gapMs, s.n))
          }
      }
  }

  /** The SAME state machine run through flatMapGroupsWithState in BATCH
    * mode over (userId, eventTimeMicros) rows — the batch-checkable
    * face of [[sessionizeWithState]] (its oracle is st_session's
    * lag/gap SQL). Times are MICROseconds here, not millis: batch
    * parity with the oracle needs full timestamp precision, while the
    * streaming wrapper is pinned to millis by setTimeoutTimestamp.
    * Differences forced by batch semantics, both inherent:
    *  - NoTimeout — a batch run has no watermark, timeouts never fire;
    *  - the trailing open session is emitted — a batch group holds the
    *    key's complete history, so "still open" means final (in
    *    streaming it stays in state until the event-time timeout).
    * Result times are in the input unit (micros). */
  def sessionizeBatch(events: Dataset[(Long, Long)], gapMicros: Long)(
      implicit enc1: org.apache.spark.sql.Encoder[Long],
      enc2: org.apache.spark.sql.Encoder[SessionState],
      enc3: org.apache.spark.sql.Encoder[SessionResult]): Dataset[SessionResult] = {
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionResult](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2).toArray.sorted
          val (closed, open) = foldSessions(state.getOption, sorted, gapMicros)
          (closed ++ open.toList).iterator
            .map(s => SessionResult(userId, s.startMs, s.lastMs + gapMicros, s.n))
      }
  }

  /** Incrementally-maintained per-key quantiles: the
    * [[graft.operators.KllSketch]] compactor ladder held as
    * mapGroupsWithState state, updated micro-batch by micro-batch —
    * the streaming face of the same mergeable partial the batch
    * rollup (g_quantile_sketch) stores per group. Each batch emits
    * the key's refreshed (count, p25/p50/p75/p95); the LAST emission
    * per key is the full-stream answer. State per key is
    * O(K·log(n/K)) doubles — bounded however long the stream runs,
    * which is the entire argument for sketch-valued state at 100 TB
    * (exact per-key quantile state would hold every value seen). */
  def quantilePerKey(rows: Dataset[(String, Double)], qs: Seq[Double])(
      implicit encK: org.apache.spark.sql.Encoder[String],
      encS: org.apache.spark.sql.Encoder[graft.operators.KllSketch.KllState],
      encU: org.apache.spark.sql.Encoder[(String, Long, Seq[Double])])
      : Dataset[(String, Long, Seq[Double])] = {
    import graft.operators.KllSketch
    rows.groupByKey(_._1)
      .mapGroupsWithState[KllSketch.KllState, (String, Long, Seq[Double])](
        GroupStateTimeout.NoTimeout()) {
        (key: String, vs: Iterator[(String, Double)],
            state: GroupState[KllSketch.KllState]) =>
          val st = state.getOption.getOrElse(KllSketch.empty)
          vs.foreach(v => KllSketch.insert(st, v._2))
          state.update(st)
          (key, st.count, KllSketch.quantiles(st, qs))
      }
  }

  /** Incrementally-maintained per-key top-k heavy hitters: a
    * [[graft.operators.HeavyHitters]] SpaceSaving summary held as
    * mapGroupsWithState state, folded micro-batch by micro-batch. Each
    * batch emits the key's refreshed (total, top-k keys, counts,
    * error bounds); the LAST emission per key is the full-stream
    * answer. State per key is O(capacity) counters — bounded however
    * long the stream runs, and mergeable across restarts via the
    * checkpoint. With capacity ≥ the key's distinct-value cardinality
    * the counts are exact; below it they carry the SpaceSaving
    * overestimate bound in `errs`. */
  def topKPerKey(rows: Dataset[(String, String)], k: Int, capacity: Int)(
      implicit encS: org.apache.spark.sql.Encoder[graft.operators.HeavyHitters.SSState],
      encU: org.apache.spark.sql.Encoder[(String, Long, Seq[String], Seq[Long], Seq[Long])])
      : Dataset[(String, Long, Seq[String], Seq[Long], Seq[Long])] = {
    import graft.operators.HeavyHitters
    rows.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .mapGroupsWithState[HeavyHitters.SSState,
        (String, Long, Seq[String], Seq[Long], Seq[Long])](
        GroupStateTimeout.NoTimeout()) {
        (key: String, vs: Iterator[(String, String)],
            state: GroupState[HeavyHitters.SSState]) =>
          val st = HeavyHitters.ssUpdate(
            state.getOption.getOrElse(HeavyHitters.ssEmpty), vs.map(_._2), capacity)
          state.update(st)
          val top = HeavyHitters.ssTopK(st, k)
          (key, st.total, top.map(_._1), top.map(_._2), top.map(_._3))
      }
  }

  /** Per-band-bucket index state for [[minHashIndexPairs]]: the docs
    * (id, text) that have landed in this LSH bucket so far, plus an
    * audit count of docs the cap refused. At 100 TB the state would
    * hold (id, shingle sketch) and verification would be a lookup
    * join; texts are kept here because fixture buckets are tiny and
    * the verify stays inside the state update. */
  final case class MhBucket(ids: Seq[Long], texts: Seq[String], dropped: Long,
      refused: Seq[Long] = Nil)

  /** INCREMENTAL MinHash-LSH index maintenance — the streaming half of
    * [[graft.operators.Dedup.minHashPairs]]: documents arrive in
    * micro-batches, each doc joins its LSH band buckets
    * (state-store-backed), is VERIFIED by exact 3-shingle Jaccard
    * against the bucket's existing members, and every qualifying pair
    * is emitted exactly once — when its LATER member arrives. Because
    * bucket state accumulates across batches, the emitted pair SET
    * over a finite stream equals the batch operator's output on the
    * full corpus regardless of how arrivals are split into batches
    * (pairs may repeat across bands, as in the batch operator —
    * callers dropDuplicates). Within a batch, bucket rows are folded
    * in id order, so emission is deterministic.
    *
    * Scale shape: state per bucket is bounded by `bucketCap` (LSH
    * banding keeps true buckets tiny; one mass-duplication key can't
    * grow state unboundedly). A batch that refuses docs EMITS the
    * audit as a sentinel row (-1, cumulative refusals, -1.0) — the
    * domain-cap discipline: a bound that throttles recall must be
    * observable downstream, never a silent state field. Re-arrivals of
    * an already-indexed id are skipped whole (no duplicate state, no
    * double emission) — the upsert/replay-safe contract. Input rows
    * are (bucketKey, id, text) — the map-side band explode stays in
    * the source stage; only the bucketed shuffle carries payloads. */
  def minHashIndexPairs(rows: Dataset[(String, Long, String)],
      threshold: Double, bucketCap: Int)(
      implicit encS: org.apache.spark.sql.Encoder[MhBucket],
      encU: org.apache.spark.sql.Encoder[(Long, Long, Double)])
      : Dataset[(Long, Long, Double)] = {
    rows.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[MhBucket, (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, vs: Iterator[(String, Long, String)],
            state: GroupState[MhBucket]) =>
          val st0 = state.getOption.getOrElse(MhBucket(Nil, Nil, 0L))
          var ids = st0.ids.toVector
          var texts = st0.texts.toVector
          var refused = st0.refused.toVector
          val droppedBefore = st0.dropped
          var dropped = droppedBefore
          val out = Vector.newBuilder[(Long, Long, Double)]
          // O(1) membership for the batch loop (r11 review: the
          // Seq.contains scans were O(n) per arriving doc — quadratic
          // over a hot bucket's feed); the canonical state stays the
          // encoder-friendly Vectors
          val seen = scala.collection.mutable.HashSet.empty[Long]
          seen ++= ids; seen ++= refused
          // bounded replay-dedup memory (r11 review): refused ids are
          // 8 B each but were UNBOUNDED under a mass-refusal feed; past
          // 16x bucketCap the tracking stops, so a REPLAYED
          // long-refused id re-verifies — its re-emitted pairs are
          // absorbed by callers' dropDuplicates, and (r12, ADVICE r11)
          // the refusal counter does NOT re-bump: `dropped` counts
          // DISTINCT refused ids and saturates at refusedCap, so a
          // sustained replay can't inflate the audit without bound. A
          // frozen-at-cap audit is itself the overflow signal; a
          // production index would swap the id list for a Bloom filter.
          val refusedCap = bucketCap * 16
          vs.toSeq.sortBy(_._2).foreach { case (_, id, text) =>
            // an id already SEEN — admitted or refused — is a re-arrival
            // (replayed or upsert-style feed): skip it entirely. For
            // admitted ids, re-verifying would double-emit pairs and
            // re-admitting would duplicate state; for refused ids (r10
            // advice), re-verifying would re-emit all their pairs and
            // re-count the refusal, inflating the audit.
            if (!seen.contains(id)) {
              seen += id
              var i = 0
              while (i < ids.length) {
                val dist = 1.0 - graft.operators.Dedup.jaccardSim(texts(i), text)
                if (dist <= threshold)
                  out += ((math.min(ids(i), id), math.max(ids(i), id), dist))
                i += 1
              }
              if (ids.length < bucketCap) { ids :+= id; texts :+= text }
              else if (refused.length < refusedCap) {
                // count exactly when first REMEMBERED (see cap note)
                dropped += 1
                refused :+= id
              }
            }
          }
          state.update(MhBucket(ids, texts, dropped, refused))
          // the refusal audit is EMITTED, not just kept in state: when
          // this batch refused docs, a sentinel row (-1, cumulative
          // refusals, -1.0) surfaces it — callers filter id_a >= 0 for
          // pairs and can alert/require on the sentinel (a bound that
          // throttles recall must be observable, never silent)
          if (dropped > droppedBefore) out += ((-1L, dropped, -1.0))
          out.result().iterator
      }
  }
}
