package graft.streaming

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the §2.10 queries.
  *
  * Each capability has one body, a function of a `DataFrame`. A declared
  * batch query calls it on `Tables(...)`; `StreamingSpec` calls it on
  * what a `readStream` run settled into a memory sink and checks the two
  * agree. Three kinds of def live here:
  *  - stateless cores (`enrichedSegmentCounts`, `tumblingCounts`,
  *    `topkPerWindow`, `sessionSpans`) that the declared query runs too —
  *    on a batch frame the analyzer drops `withWatermark`, so the batch
  *    plan is the query's own;
  *  - the `*Finish` tails: the declared query's tail, run by the query
  *    on its batch core and by the tests on the settled stream;
  *  - stream-only builders: the watermarked window cores whose batch
  *    query groups differently, and the `flatMapGroupsWithState` /
  *    `mapGroupsWithState` state machines, whose watermark or state is
  *    what bounds streaming memory. `tools/wrapper_lint.py` lists each
  *    with its reason.
  *
  * Scale notes: watermarks bound state (events later than the mark are
  * dropped, closed windows are evicted); session windows merge per key —
  * state is O(open sessions). At 100 TB/day the source would be Kafka
  * with the same code from `.withWatermark` onward.
  */
object Streams {

  /** Schema of the events stream (FIXTURES.md), ts already a timestamp. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-source stream over a directory of event parquet (ts must
    * already be µs — write through `prepareStreamInput`).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Write the fixture events table into a temp dir in the stream-ready
    * shape (ns→µs fix applied, props dropped).
    */
  def prepareStreamInput(spark: SparkSession, sfDir: String, outDir: String): Unit =
    graft.sources.Tables(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(outDir)

  /** Stream-static enrichment join + tumbling 15-min counts per market
    * segment — the twin behind q_stream_12_stream_static. Works
    * identically on a batch or streaming `events` frame: stream-static
    * joins need no watermark for correctness (the static side is simply
    * re-read/re-broadcast per micro-batch), which is exactly why the
    * batch result is the streaming result. The dim is broadcast — the
    * fact stream never shuffles for the join, only for the aggregation.
    */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "15 minutes"), col("c_mktsegment"))
      // value quantizes to integer cents BEFORE summing: a raw double
      // sum is accumulation-order-dependent (engines/micro-batches
      // disagree at .xx5 rounding edges — the repo's standing
      // exact-cents discipline)
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))

  /** Tumbling 1h counts/sums per event_type with a 10min watermark —
    * the core of q_stream_1_tumbling, which rounds `sum_value` on top.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Per-user session windows (30min gap) — streaming twin of
    * q_stream_3_session.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"), col("user_id"), col("n_events"))

  /** Windowed top-k core of q_stream_8_topk_window: the watermarked 6h
    * window×type counts stream into foreachBatch, where [[rankTopK]]
    * runs on each (tiny, window×type-sized) batch. Ranking is not an
    * incremental-state operator, so it belongs on the batch side of the
    * sink — the standard pattern for top-k over streaming aggregates.
    */
  def topkPerWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** The per-window rank of q_stream_8, applied per emitted batch
    * (foreachBatch / memory-sink post-processing). The rk <= k filter
    * plans as WindowGroupLimit (per-partition heaps, no full sort).
    */
  def rankTopK(batch: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("win_start").orderBy(col("n").desc, col("event_type"))
    batch.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Streaming keyed dedupe — twin of q_stream_5_dedupe_keyed.
    * dropDuplicatesWithinWatermark so per-key state is EVICTED once the
    * watermark passes (plain dropDuplicates on a key subset without the
    * event-time column would retain every key forever). Semantics:
    * first-arrived row per key within the watermark window; the batch
    * twin picks min(ts, event_id) — they agree when input is one
    * time-ordered batch (the test setup), not under arbitrary arrival
    * orders.
    */
  def dedupeKeyed(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** ts_us = epoch microseconds (`unix_micros(ts)`) — java.sql.Timestamp
    * getters would silently truncate to milliseconds.
    */
  final case class SessionEvent(user_id: Long, ts_us: Long)
  final case class StreamSessionEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long)
  final case class UserSession(user_id: Long, session_start_us: Long, n_events: Long)

  /** Custom-state sessionizer via `flatMapGroupsWithState` — the escape
    * hatch when `session_window` can't express the state machine (e.g.
    * per-session value caps, dynamic gaps). Batch mode: each key's full
    * iterator arrives at once and the gap fold runs in place. In a
    * streaming query the identical callback runs incrementally with
    * `GroupStateTimeout.EventTimeTimeout` driving session closure.
    *
    * Scale note: one shuffle on the grouping key; state is O(1) per open
    * session. Uses the same inclusive-gap merge rule as session_window
    * (an event at exactly prev+gap merges) so the two agree exactly.
    */
  def sessionize(ds: Dataset[SessionEvent], gapMinutes: Int): Dataset[UserSession] = {
    import ds.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[SessionEvent], _: GroupState[Long]) =>
          val ts = events.map(_.ts_us).toArray.sorted
          val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
          var start = 0
          for (i <- 1 until ts.length)
            if (ts(i) - ts(i - 1) > gapUs) { // strictly greater: prev+gap merges
              out += UserSession(user, ts(start), (i - start).toLong)
              start = i
            }
          if (ts.nonEmpty)
            out += UserSession(user, ts(start), (ts.length - start).toLong)
          out.iterator
      }
  }

  /** INCREMENTAL sessionizer: the streaming-native version of `sessionize`
    * with `GroupStateTimeout.EventTimeTimeout` driving session closure.
    * State per key = the open sessions (start_us, last_us, n); each
    * micro-batch merges its events into the state with the same
    * inclusive-gap rule as the batch form, then emits (and drops) every
    * session the watermark has passed — a future event would have
    * ts ≥ watermark > last+gap, so it could never merge into them; the
    * two forms therefore agree exactly once the watermark clears the data.
    * Keys with no new events are woken by the event-time timeout so idle
    * sessions still close.
    *
    * Scale note: state is O(open sessions per key), evicted monotonically
    * by the watermark — bounded memory at any input volume. One shuffle
    * on the grouping key, same as the batch form.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int,
      delay: String = "10 minutes"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    // the watermarked ts column must survive into the grouped Dataset —
    // projecting it away makes the EventTimeTimeout checker reject the plan
    val ds = events.withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[StreamSessionEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[StreamSessionEvent], state: GroupState[Seq[(Long, Long, Long)]]) =>
          val incoming = events.map(e => (e.ts_us, e.ts_us, 1L)).toList
          val merged = (state.getOption.getOrElse(Seq.empty).toList ++ incoming)
            .sortBy(s => (s._1, s._2))
            .foldLeft(List.empty[(Long, Long, Long)]) {
              case (cur :: acc, s) if s._1 - cur._2 <= gapUs => // inclusive merge, same as batch
                (cur._1, math.max(cur._2, s._2), cur._3 + s._3) :: acc
              case (acc, s) => s :: acc
            }.reverse
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = merged.partition(s => wmUs > s._2 + gapUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // wake this key when the earliest open session can close
            val nextMs = open.map(s => (s._2 + gapUs) / 1000L + 1L).min
            state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs() + 1L, nextMs))
          }
          closed.map(s => UserSession(user, s._1, s._3)).iterator
      }
  }

  final case class TransitionEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, a: String, b: String)

  /** The watermark-ordered per-user state machine behind
    * [[transitionsStream]], [[attributionStream]] and [[dwellStream]].
    * State per user = a carried (event_type, ts_us) plus the buffer of
    * events still above the watermark; each micro-batch merges its
    * events into the buffer in (ts, event_id) order and finalizes the
    * prefix below the watermark — a future event has ts ≥ watermark, so
    * it can never sort between two finalized events, and `step` sees
    * exactly the order of the batch window it replaces. `step(user,
    * carried, (ts_us, event_id, event_type))` returns the new carried
    * value and the row to emit, if any. Keys with no new events are
    * woken by the event-time timeout, so buffered tails drain as the
    * watermark advances.
    *
    * Scale note: one shuffle on the key; buffered state is O(events
    * inside the watermark delay per key), evicted monotonically. The
    * carried value is evicted after `idleTtlMinutes` of event-time
    * inactivity (otherwise churning key spaces grow the state store one
    * entry per key forever); a pair spanning an idle gap longer than the
    * TTL is dropped — size the TTL to the longest gap that should still
    * count.
    */
  private def finalizeInEventOrder[O: Encoder](events: DataFrame,
      delay: String, idleTtlMinutes: Long)(
      step: (Long, Option[(String, Long)], (Long, Long, String)) => (Option[(String, Long)], Option[O])
  ): Dataset[O] = {
    import events.sparkSession.implicits._
    // the watermarked ts column must survive into the grouped Dataset —
    // projecting it away makes the EventTimeTimeout checker reject the plan
    val ds = events.withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[TransitionEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Option[(String, Long)], Seq[(Long, Long, String)]), O](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[TransitionEvent],
         state: GroupState[(Option[(String, Long)], Seq[(Long, Long, String)])]) =>
          val (carried0, buf0) = state.getOption.getOrElse((None, Seq.empty))
          val incoming = events.map(e => (e.ts_us, e.event_id, e.event_type)).toList
          val buf = (buf0 ++ incoming).sortBy(e => (e._1, e._2))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (done, open) = buf.partition(_._1 < wmUs)
          val out = scala.collection.mutable.ArrayBuffer.empty[O]
          var carried = carried0
          done.foreach { e =>
            val (next, row) = step(user, carried, e)
            carried = next
            row.foreach(out += _)
          }
          // idle ⟺ the FIRING timeout was the idle one: nothing was
          // buffered at entry. A finalization timeout (armed to
          // open.head+1 to flush buffered events) also arrives with no
          // incoming data, but it must finalize and re-arm the idle TTL,
          // not evict the carried value.
          val idleExpired = state.hasTimedOut && incoming.isEmpty && buf0.isEmpty
          if (open.isEmpty && (carried.isEmpty || idleExpired)) state.remove()
          else {
            state.update((carried, open))
            if (open.nonEmpty)
              // wake when the earliest buffered event can finalize
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1L, open.head._1 / 1000L + 1L))
            else
              // nothing buffered: keep the carried value only through the idle TTL
              state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + idleTtlMinutes * 60000L)
          }
          out.iterator
      }
  }

  /** INCREMENTAL per-user transition extraction — the streaming form of
    * q_stream_13_markov's lead window (count the emitted pairs to get
    * the transition matrix): every emitted (a → b) pair is exactly the
    * pair the batch lead window produces ([[finalizeInEventOrder]]).
    */
  def transitionsStream(events: DataFrame,
      delay: String = "10 minutes",
      idleTtlMinutes: Long = 60): Dataset[Transition] = {
    import events.sparkSession.implicits._
    finalizeInEventOrder[Transition](events, delay, idleTtlMinutes) {
      case (user, last, (us, _, typ)) => (Some((typ, us)), last.map(a => Transition(user, a._1, typ)))
    }
  }

  final case class Attribution(user_id: Long, channel: String, gap_us: Long)

  /** ONLINE last-touch attribution — the streaming form of
    * q_stream_17_attribution / `Pipelines.lastTouchAttribution`. The
    * carried value is the last FINALIZED non-conversion touch, and
    * finalization follows the (ts, event_id) order of the batch
    * carry-forward window ([[finalizeInEventOrder]]), so a conversion is
    * credited to exactly the touch the batch query credits. Conversions
    * with no prior touch emit channel 'none' with gap −1 (µs gaps are
    * nonnegative, so the sentinel is unambiguous). An attribution window
    * longer than the idle TTL should raise the TTL.
    */
  def attributionStream(events: DataFrame, convType: String = "purchase",
      delay: String = "10 minutes",
      idleTtlMinutes: Long = 60): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    finalizeInEventOrder[Attribution](events, delay, idleTtlMinutes) {
      case (user, touch, (us, _, typ)) =>
        if (typ == convType)
          (touch, Some(touch.fold(Attribution(user, "none", -1L))(t => Attribution(user, t._1, us - t._2))))
        else (Some((typ, us)), None)
    }
  }

  final case class RateEvent(event_type: String, ts: java.sql.Timestamp, ts_us: Long)
  final case class MinuteRate(event_type: String, minute_id: Long, n: Long,
      m_prior: Long, z: Double)

  /** Online minute-rate anomaly scoring — the streaming twin of
    * q_stream_15_rate_burst, reshaped for the online setting: each
    * minute's count is z-scored against the statistics of the minutes
    * FINALIZED BEFORE it (a live detector can only use the past),
    * whereas the batch query scores against the full-corpus stats.
    * State per event_type = exact BIGINT sufficient statistics
    * (m, Σn, Σn²) of finalized minutes + the open minute buckets still
    * above the watermark. A minute finalizes when the watermark passes
    * its end; finalization is in minute order, so every emitted z is a
    * pure function of the event-time prefix — replayable and
    * partition-independent, like the batch twin's closed form.
    *
    * Scale note: one shuffle on event_type (salt the key by minute at
    * 100 TB if a single type dominates, merging stats downstream);
    * state is O(open minutes) per type while finalized history is three
    * longs — the state store stays |event_type|-bounded forever.
    */
  def rateAnomalyStream(events: DataFrame,
      delay: String = "10 minutes"): Dataset[MinuteRate] = {
    import events.sparkSession.implicits._
    val ds = events.withWatermark("ts", delay)
      .select(col("event_type"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[RateEvent]
    // state: (finalized (m, s1, s2), open minute buckets)
    ds.groupByKey(_.event_type)
      .flatMapGroupsWithState[((Long, Long, Long), Map[Long, Long]), MinuteRate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, events: Iterator[RateEvent],
         state: GroupState[((Long, Long, Long), Map[Long, Long])]) =>
          val ((m0, s10, s20), open0) = state.getOption.getOrElse(((0L, 0L, 0L), Map.empty[Long, Long]))
          val open = events.foldLeft(open0) { (acc, e) =>
            val minute = e.ts_us / 60000000L
            acc.updated(minute, acc.getOrElse(minute, 0L) + 1L)
          }
          val wmMinute = state.getCurrentWatermarkMs() * 1000L / 60000000L
          val (done, still) = open.partition(_._1 < wmMinute)
          var (m, s1, s2) = (m0, s10, s20)
          val out = done.toSeq.sortBy(_._1).map { case (minute, n) =>
            val den = m.toDouble * s2.toDouble - s1.toDouble * s1.toDouble
            val z = if (m >= 2 && den > 0)
              (m.toDouble * n - s1.toDouble) / math.sqrt(den) else 0.0
            m += 1; s1 += n; s2 += n * n
            MinuteRate(typ, minute, n, m - 1, z)
          }
          state.update(((m, s1, s2), still))
          if (still.nonEmpty)
            // wake when the earliest open minute can finalize
            state.setTimeoutTimestamp(math.max(state.getCurrentWatermarkMs() + 1L,
              (still.keys.min + 1L) * 60000L + 1L))
          // open empty: stats persist (|event_type|-bounded), no timeout needed
          out.iterator
      }
  }

  /** One idempotent micro-batch write: the batch OVERWRITES its own
    * `batch_id=<id>` subdirectory, so foreachBatch's at-least-once retry
    * contract becomes exactly-once at the sink — a replayed batch
    * replaces its previous (possibly partial) output instead of
    * appending. Readers see `batch_id` as a partition column via
    * ordinary partition discovery.
    */
  def writeBatch(batch: DataFrame, path: String, id: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$id")

  /** foreachBatch parquet sink built on `writeBatch` — the escape hatch
    * for sinks Structured Streaming lacks natively (JDBC, multi-table,
    * merge targets): full batch-DataFrame API per micro-batch, with
    * idempotence supplied by the batch-id-scoped overwrite.
    */
  def idempotentParquetSink(df: DataFrame, path: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, id: Long) => writeBatch(batch, path, id))

  /** Stream-stream join: each purchase joined to the same user's clicks
    * from the preceding hour. Both sides watermarked (bounds the join
    * state buffers); the click's validity end is precomputed per row —
    * interval arithmetic must never sit in the join residual (PERF.md
    * finding 1).
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = clickPurchase(events, "inner")

  /** Stream-stream LEFT OUTER join: every purchase, matched to preceding-
    * hour clicks when they exist, emitted with NULL click columns
    * otherwise. The NULL rows can only be produced once the watermark
    * passes the purchase's join window (before that a matching click
    * could still arrive) — so unmatched results trail the inner results
    * by up to the watermark delay; state for both sides is evicted on
    * the same boundary.
    */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = clickPurchase(events, "left_outer")

  private def clickPurchase(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withColumn("click_end", col("click_ts") + expr("INTERVAL 1 HOUR"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_end"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Memory-sink writer used by the tests (complete mode for aggregates). */
  def toMemorySink(df: DataFrame, name: String, complete: Boolean): DataStreamWriter[Row] =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(if (complete) "complete" else "append")
      .trigger(Trigger.AvailableNow())

  final case class EntropyEvent(user_id: Long, event_type: String)
  final case class UserEntropy(user_id: Long, n_events: Long, h6: Long)

  /** ONLINE per-user behavioral entropy — the streaming twin of
    * q_stream_29_user_entropy. State per user = the event-type count
    * map (bounded: one entry per distinct type, 5 here); each
    * micro-batch merges its counts and emits the user's CURRENT
    * entropy, quantizing each −p·log2(p) term to a 1e-6 integer exactly
    * like the batch query, so once the stream drains, the last emitted
    * h6 per user equals the batch value bit-for-bit.
    *
    * Scale note: one shuffle on user_id; state is O(distinct types) per
    * key and count merging is associative, so the operator never
    * buffers events. No watermark needed — counts are monotone and the
    * emitted rows are progressive refinements (Update mode).
    */
  def entropyStream(events: DataFrame): Dataset[UserEntropy] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_type")).as[EntropyEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[Map[String, Long], UserEntropy](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[EntropyEvent], state: GroupState[Map[String, Long]]) =>
          val merged = batch.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
            (m, e) => m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
          }
          state.update(merged)
          val n = merged.values.sum
          val h6 = merged.values.map { c =>
            val p = c.toDouble / n
            math.floor(-p * math.log(p) / math.log(2.0) * 1e6 + 0.5).toLong
          }.sum
          UserEntropy(user, n, h6)
      }
  }
  final case class BotEvent(user_id: Long, minute_id: Long, night: Long)
  final case class BotFlags(user_id: Long, n_events: Long,
      r_heavy: Long, r_dense: Long, r_burst: Long, r_night: Long)

  /** Online behavioral bot screen — the live twin of
    * q_stream_40_bot_screen. Per-user state is the minute→count map
    * plus the night-event counter; every rule is the same
    * cross-multiplied integer predicate as the batch query, so the
    * LAST refinement per user equals the batch flags exactly.
    *
    * Scale note: one shuffle on user_id; state is O(active minutes)
    * per key and merging is associative. At production scale the
    * minute map ages out via a timeout (a bot screen only needs a
    * trailing window); the fixture month needs no eviction.
    */
  def botScreenStream(events: DataFrame): Dataset[BotFlags] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"),
        expr("unix_micros(ts) div 60000000").as("minute_id"),
        when(expr("(unix_micros(ts) div 3600000000) % 24") < 6, 1L)
          .otherwise(0L).as("night"))
      .as[BotEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Map[Long, Long], Long), BotFlags](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[BotEvent], state: GroupState[(Map[Long, Long], Long)]) =>
          var (mins, nNight) = state.getOption.getOrElse((Map.empty[Long, Long], 0L))
          batch.foreach { e =>
            mins = mins.updated(e.minute_id, mins.getOrElse(e.minute_id, 0L) + 1L)
            nNight += e.night
          }
          state.update((mins, nNight))
          val n = mins.values.sum
          val m = mins.size.toLong
          val maxmin = if (mins.isEmpty) 0L else mins.values.max
          BotFlags(user, n,
            if (n >= 75) 1L else 0L,
            if (100 * n > 101 * m) 1L else 0L,
            if (maxmin >= 2) 1L else 0L,
            if (10 * nNight > 3 * n) 1L else 0L)
      }
  }

  /** First-seen (user_id, day) activity rows — the streaming core
    * behind q_stream_20 (`Pipelines.dauWau`), q_stream_32
    * (`Pipelines.retentionCurve`) and, over the purchase-filtered
    * stream, q_stream_23 ([[lifecycleFinish]]). One stateful dedupe
    * keyed on (user_id, day-as-event-time): the watermark on the day
    * timestamp evicts state for days older than the lateness bound, so
    * state is O(active users × days inside the watermark), not
    * O(history). Append mode — each activity pair is emitted exactly
    * once.
    */
  def activityStream(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (expr("unix_micros(ts) div 86400000000") * 86400).cast("timestamp").as("dts"))
      .withWatermark("dts", "1 day")
      .dropDuplicates("user_id", "dts")
      .select("user_id", "day")

  final case class AbandonEvent(user_id: Long, ts_us: Long, event_type: String)
  final case class AbandonVerdict(user_id: Long, c_us: Long, converted: Long, rev: Long)

  /** ONLINE abandonment verdicts — the streaming twin of
    * q_stream_31_abandonment. State per user = (max click time,
    * purchase times later than it): a new click DROPS the purchases it
    * overtakes (they can never follow a later last-click), so state is
    * O(purchases since the last click), not O(history). The emitted
    * verdict is refreshed (rev increments) whenever the user's events
    * arrive; the LAST refinement per user equals the batch semantics —
    * last click overall, converted iff any purchase lands in
    * (c, c+24h] — regardless of arrival order, because max-click and
    * the purchases-after-it set are order-insensitive merges.
    */
  def abandonmentStream(events: DataFrame): Dataset[AbandonVerdict] = {
    import events.sparkSession.implicits._
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[AbandonEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Seq[Long], Long), AbandonVerdict](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[AbandonEvent],
         state: GroupState[(Long, Seq[Long], Long)]) =>
          var (c, purch, rev) = state.getOption.getOrElse((Long.MinValue, Seq.empty[Long], 0L))
          batch.foreach { e =>
            if (e.event_type == "click") {
              if (e.ts_us > c) { c = e.ts_us; purch = purch.filter(_ > c) }
            } else if (e.ts_us > c) purch = purch :+ e.ts_us
          }
          rev += 1
          state.update((c, purch, rev))
          if (c == Long.MinValue) Iterator.empty
          else {
            val converted = if (purch.exists(p => p <= c + 86400000000L)) 1L else 0L
            Iterator.single(AbandonVerdict(user, c, converted, rev))
          }
      }
  }

  /** The q_stream_31_abandonment tail: per weekday of each user's last
    * click, the users and the share that did not purchase within 24h.
    * Input: (c_us, converted) per user.
    */
  def abandonmentByWeekday(conv: DataFrame): DataFrame =
    conv.groupBy(((col("c_us") / 86400000000L).cast("long") % 7).as("weekday"))
      .agg(count(lit(1)).as("n_users"),
        sum(lit(1L) - col("converted")).as("n_abandoned"),
        (floor(sum(lit(1L) - col("converted")).cast("double") / count(lit(1)) * 1000000 + 0.5)
          / 1000000).as("abandon_rate"))
      .orderBy("weekday")

  final case class DwellStep(user_id: Long, prev_type: String, event_type: String, gap: Long)

  /** ONLINE transition dwell times — the streaming core of
    * q_stream_36_dwell: the [[transitionsStream]] pairs, each carrying
    * its event-time gap, so every (prev_type, event_type, gap) equals
    * the batch lag-window row ([[finalizeInEventOrder]]).
    */
  def dwellStream(events: DataFrame,
      delay: String = "10 minutes",
      idleTtlMinutes: Long = 60): Dataset[DwellStep] = {
    import events.sparkSession.implicits._
    finalizeInEventOrder[DwellStep](events, delay, idleTtlMinutes) {
      case (user, last, (us, _, typ)) =>
        (Some((typ, us)), last.map { case (a, aUs) => DwellStep(user, a, typ, us - aUs) })
    }
  }

  /** The q_stream_36_dwell tail: top-10 (prev_type > event_type) steps
    * by count with mean/max gaps, off (prev_type, event_type, gap µs)
    * rows — the batch lag window or [[dwellStream]].
    */
  def dwellFinish(steps: DataFrame): DataFrame =
    steps.groupBy(concat_ws(">", col("prev_type"), col("event_type")).as("step"))
      .agg(count(lit(1)).as("n"),
        (floor(sum("gap").cast("double") / count(lit(1)) / 1000000 * 1000 + 0.5) / 1000)
          .as("mean_gap_s"),
        expr("max(gap) div 1000000").as("max_gap_s"))
      .orderBy(col("n").desc, col("step")).limit(10)

  /** Streaming hourly load counts (tumbling 1h windows) — the stateful
    * core of the q_stream_42_load_percentiles twin. Complete mode for
    * the finite-fixture test; with a watermark the same agg runs
    * append at unbounded scale (hours are calendar-bounded state).
    */
  def hourlyLoadStream(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hr"), col("n"))

  /** The q_stream_42_load_percentiles tail: exact type-1 rank
    * percentiles over the (hr, n) hour table (hours are
    * calendar-bounded, so the rank window is dimension-sized).
    */
  def loadPercentilesFinish(h: DataFrame): DataFrame = {
    def D(c: Column) = c.cast("double")
    val r = h.select(col("n"),
      row_number().over(Window.orderBy(col("n"), col("hr"))).as("rn"),
      count(lit(1)).over(Window.partitionBy()).as("nh"))
    r.agg(max(col("nh")).as("n_hours"),
        max(when(col("rn") === expr("(nh + 1) div 2"), col("n"))).as("p50"),
        max(when(col("rn") === expr("(9 * nh + 9) div 10"), col("n"))).as("p90"),
        max(when(col("rn") === expr("(99 * nh + 99) div 100"), col("n"))).as("p99"),
        max(col("n")).as("peak"))
      .select(col("n_hours"), col("p50"), col("p90"), col("p99"), col("peak"),
        Num.round(D(col("peak")) / col("p50"), 6).as("peak_over_p50"))
  }

  /** Watermarked per-(minute, type) counts — the streaming core of
    * q_stream_15_rate_burst. The z-scoring needs the type's FULL
    * observed-minute distribution, so it lives in the batch finisher;
    * streaming maintains only the O(open minutes × |types|) counts.
    */
  def minuteTypeCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(window.start) div 60000000").as("minute_id"),
        col("event_type"), col("n"))

  /** The q_stream_15_rate_burst tail over the (event_type, minute_id,
    * n) table: per-type z over observed minutes as one IEEE expression
    * of exact BIGINT window statistics, zero-variance guard (z = 0),
    * top-10.
    */
  def rateBurstFinish(c0: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val c = c0
      .withColumn("mc", count(lit(1)).over(byType))
      .withColumn("s1", sum("n").over(byType).cast("long"))
      .withColumn("s2", sum(col("n") * col("n")).over(byType).cast("long"))
    val den = col("mc").cast("double") * col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double")
    c.select(col("event_type"), col("minute_id"), col("n"),
        when(den > 0,
          Num.round(
            (col("mc").cast("double") * col("n").cast("double") - col("s1").cast("double"))
              / sqrt(den), 6)).otherwise(0.0).as("z"))
      .orderBy(col("z").desc, col("event_type"), col("minute_id"))
      .limit(10)
  }

  final case class SeqEvent(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class PathTrigram(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String, e2: String, e3: String)

  /** ONLINE per-user path trigrams — the streaming twin core of
    * q_stream_34_path_trigrams (the Markov/attribution twins above
    * already cover the pair shapes; this is the depth-2 sequence
    * state). State per user = the last TWO events' types, O(1); each
    * micro-batch sorts its OWN events for the user by (ts, event_id)
    * and stitches them onto the carried pair, emitting one
    * (event_type, e2, e3) trigram per settled event — exactly the batch
    * double-lead rows that `Pipelines.pathNgrams` counts,
    * whenever arrival order ACROSS micro-batches respects event time
    * (any order within a micro-batch is fine — the per-batch sort
    * restores it; a cross-batch straggler is the source's watermark
    * discipline, as with every sequence operator).
    */
  def pathTrigramStream(events: DataFrame): Dataset[PathTrigram] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[SeqEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[String], PathTrigram](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[SeqEvent], state: GroupState[Seq[String]]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var lastTwo = state.getOption.getOrElse(Seq.empty[String])
          val out = Seq.newBuilder[PathTrigram]
          sorted.foreach { e =>
            if (lastTwo.size == 2)
              out += PathTrigram(user, e.ts_us, e.event_id, lastTwo.head, lastTwo(1), e.event_type)
            lastTwo = (lastTwo :+ e.event_type).takeRight(2)
          }
          if (sorted.nonEmpty) state.update(lastTwo)
          out.result().iterator
      }
  }

  /** Watermarked per-(day, type) counts — the shared streaming core of
    * the q_stream_26_volume_trend and q_stream_39_weekend_lift twins
    * (their tails, [[volumeTrendFinish]] and [[weekendLiftFinish]], take
    * the (type, day, count) table). Day windows are epoch-aligned, so `day` matches the batch
    * `unix_micros(ts) div 86400000000` exactly. State is O(open days ×
    * |types|); closed days emit once.
    */
  def typeDayCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("y"))
      .select(expr("unix_micros(window.start) div 86400000000").as("day"),
        col("event_type"), col("y"))

  /** The q_stream_26_volume_trend tail over the (event_type, day, y)
    * daily-count table: per type, the OLS slope of y on the day index
    * plus a declining flag.
    */
  def volumeTrendFinish(dd: DataFrame): DataFrame = {
    val si = dd.withColumn("x",
      (row_number().over(Window.partitionBy("event_type").orderBy("day")) - 1).cast("long"))
    val st = si.groupBy("event_type").agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val cov = col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")
    val vx = col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")
    st.select(col("event_type"), col("n").as("n_days"),
        Num.round(cov / vx, 4).as("events_per_day_trend"),
        when(cov < 0, 1L).otherwise(0L).as("declining"))
      .orderBy("event_type")
  }

  /** The q_stream_39_weekend_lift tail over one (event_type, day) row
    * per event: weekend/weekday per-day event rates per type and their
    * ratio (day+4 mod 7 ∈ {0,6} ⇔ Sat/Sun).
    */
  def weekendLiftFinish(e0: DataFrame): DataFrame = {
    val e = e0.withColumn("we",
        when((col("day") + 4) % 7 === 0 || (col("day") + 4) % 7 === 6, 1L).otherwise(0L))
      .localCheckpoint()
    val days = e.agg(
      countDistinct(when(col("we") === 1, col("day"))).as("d_we"),
      countDistinct(when(col("we") === 0, col("day"))).as("d_wd"))
    e.groupBy("event_type")
      .agg(sum("we").as("n_we"), sum(lit(1L) - col("we")).as("n_wd"))
      .crossJoin(broadcast(days))
      .select(col("event_type"), col("n_we"), col("n_wd"),
        Num.round(col("n_we").cast("double") / col("d_we"), 4).as("weekend_rate"),
        Num.round(col("n_wd").cast("double") / col("d_wd"), 4).as("weekday_rate"),
        Num.round((col("n_we").cast("double") / col("d_we"))
          / (col("n_wd").cast("double") / col("d_wd")), 6).as("lift"))
      .orderBy("event_type")
  }

  /** Watermarked per-minute counts — the streaming core of the
    * q_stream_21_peak_load twin (q_stream_15's minuteTypeCounts
    * without the type key). Minute windows are epoch-aligned, so
    * `minute` matches the batch `unix_micros(ts) div 60000000`
    * exactly. State is O(open minutes); closed minutes emit once.
    */
  def minuteCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(window.start) div 60000000").as("minute"), col("n"))

  /** The q_stream_21_peak_load tail over the (minute, n) table: top-5
    * minutes by count with the earliest-minute tiebreak, load factor vs
    * the mean ACTIVE-minute rate (the rank runs over the minute table,
    * calendar-bounded).
    */
  def peakLoadFinish(m: DataFrame): DataFrame = {
    val r = m.select(col("minute"), col("n"),
      row_number().over(Window.orderBy(col("n").desc, col("minute"))).cast("long").as("rnk"),
      count(lit(1)).over(Window.partitionBy()).as("nm"),
      sum("n").over(Window.partitionBy()).as("tot"))
    r.filter(col("rnk") <= 5)
      .select(col("rnk"), col("minute").cast("long").as("minute"), col("n"),
        col("nm").as("n_minutes"),
        Num.round(
          col("n").cast("double") / (col("tot").cast("double") / col("nm")), 4).as("load_factor"))
      .orderBy("rnk")
  }

  /** Per-user session SPANS (30min gap) — the core of
    * q_stream_22_concurrency and q_stream_43_conc_profile: the same
    * watermarked `session_window` aggregate as [[sessionCounts]],
    * emitting each session's [min, max] event-time micros instead of
    * its count (the sweep-line's interval endpoints).
    */
  def sessionSpans(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(unix_micros(min("ts")).as("st"), unix_micros(max("ts")).as("en"))
      .select(col("st"), col("en"))

  /** The q_stream_22_concurrency tail over the (st, en) session spans:
    * +1/−1 boundary points (closings sort before openings at the same
    * µs), range-partitioned prefix sum (the session table scales with
    * the event stream), TakeOrdered(1) earliest peak — never a
    * single-partition window.
    */
  def concurrencyFinish(sess0: DataFrame): DataFrame = {
    val sess = sess0.localCheckpoint()
    val pts = sess.select(col("st").as("t"), lit(1).as("delta"))
      .union(sess.select((col("en") + 1).as("t"), lit(-1).as("delta")))
    val run = graft.api.Pipelines.groupRankPrefix(pts, Nil, Seq(col("t"), col("delta")),
      sums = Seq(("delta", "conc", "")))
    val mx = run.orderBy(col("conc").desc, col("t")).limit(1)
    val nSess = sess.agg(count(lit(1)).as("n_sessions"))
    mx.crossJoin(broadcast(nSess))
      .select(col("n_sessions"), col("conc").cast("long").as("max_concurrent"),
        col("t").cast("long").as("at_us"))
  }

  /** The q_stream_23_lifecycle tail over the distinct (user_id, day)
    * purchase-activity pairs ([[activityStream]] over the
    * purchase-filtered stream): per day, every active buyer classified
    * new / retained / resurrected by a per-user lag window + first-day
    * table, churn as the shifted-day anti-join. All counts exact.
    */
  def lifecycleFinish(uw0: DataFrame): DataFrame = {
    val uw = uw0.localCheckpoint()
    val f = uw.groupBy("user_id").agg(min("day").as("first_day"))
    val lagw = uw.withColumn("prev_active",
      lag("day", 1).over(Window.partitionBy("user_id").orderBy("day")))
    val cls = lagw.join(f, "user_id")
      .select(col("day"),
        when(col("day") === col("first_day"), "new")
          .when(col("prev_active") === col("day") - 1, "retained")
          .otherwise("resurrected").as("status"))
    val act = cls.groupBy("day").agg(
      sum(when(col("status") === "new", 1).otherwise(0)).cast("long").as("n_new"),
      sum(when(col("status") === "retained", 1).otherwise(0)).cast("long").as("n_retained"),
      sum(when(col("status") === "resurrected", 1).otherwise(0)).cast("long").as("n_resurrected"))
    val next = uw.select(col("user_id"), (col("day") - 1).as("day"))
    val churn = uw.join(next, Seq("user_id", "day"), "left_anti")
      .groupBy((col("day") + 1).as("day")).agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("day"), "left")
      .select(col("day").cast("long").as("day"), col("n_new"), col("n_retained"),
        col("n_resurrected"), coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  /** Running per-user last-active day — the streaming core behind
    * q_stream_35_churn_horizons (`Pipelines.churnHorizons`): a
    * complete-mode max aggregate keyed on user (state is one long per
    * user — exactly the at-scale churn tracker's working set).
    */
  def userLastDay(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(max(expr("unix_micros(ts) div 86400000000")).as("last_day"))

  /** The q_stream_43_conc_profile tail over the (st, en) session spans:
    * boundaries collapse to DISTINCT timestamps (net delta per µs), so
    * the sweep has no ties; ONE range-partitioned global
    * `groupRankPrefix` pass emits the running level and the global rank
    * off the same shuffle; interval lengths come from the
    * rank+1 self-join (never a one-task lead window), and the level
    * histogram is bounded by max concurrency. All integers until the
    * final share division.
    */
  def concProfileFinish(sess0: DataFrame): DataFrame = {
    val sess = sess0.localCheckpoint()
    val pts = sess.select(col("st").as("t"), lit(1L).as("delta"))
      .union(sess.select((col("en") + 1).as("t"), lit(-1L).as("delta")))
    val net = pts.groupBy("t").agg(sum("delta").as("net"))
    val rk = graft.api.Pipelines.groupRankPrefix(net, Nil, Seq(col("t")), "rk",
      sums = Seq(("net", "conc", "")))
    val nxt = rk.select((col("rk") - 1).as("rk"), col("t").as("tn"))
    val lv = rk.join(nxt, "rk")
      .groupBy("conc").agg(sum(col("tn") - col("t")).as("total_us"))
    val tot = lv.agg(sum("total_us").as("w"))
    lv.crossJoin(broadcast(tot))
      .select(col("conc").cast("long").as("concurrency"),
        col("total_us").cast("long").as("total_us"),
        (floor(col("total_us").cast("double") / col("w") * 1000000 + 0.5) / 1000000)
          .as("share"))
      .orderBy("concurrency")
  }

  /** Streaming OHLC resampling — the stream core of q_time_3_ohlc: 6h tumbling
    * bars per event type with open/close as `min_by`/`max_by` over the
    * (ts, event_id) total order. min_by/max_by are DECLARATIVE
    * aggregates (mergeable (value, key) state), so they combine across
    * micro-batches into exactly the rows the batch query's rn_a=1/rn_d=1
    * rank picks select — the fixture guarantees the tie-break key is
    * unique, so both forms are deterministic.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("event_type"), window(col("ts"), "6 hours"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_raw"),
        max("value").as("high_raw"), min("value").as("low_raw"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_raw"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("window.start").as("bar"),
        col("open_raw"), col("high_raw"), col("low_raw"), col("close_raw"), col("n"))

  /** The q_time_30_bar_gaps tail over (event_type, bar, open_c,
    * close_c) cent bars: the previous-close → next-open lag per event
    * type over the calendar-bounded bar table, never the event stream.
    */
  def barGapsFinish(bars: DataFrame): DataFrame =
    bars.withColumn("prev_close", lag("close_c", 1).over(Window.partitionBy("event_type").orderBy("bar")))
      .filter(col("prev_close").isNotNull)
      .select(col("event_type"), col("bar"),
        (col("open_c") - col("prev_close")).as("gap_cents"),
        ((col("open_c") - col("prev_close")).cast("double") / 100).as("gap"))
      .orderBy("event_type", "bar")

  /** The q_time_3_ohlc tail over raw (open/high/low/close) bar picks:
    * cents rounding and bar order.
    */
  def ohlcFinish(bars: DataFrame): DataFrame =
    bars.select(col("event_type"), col("bar"),
        Num.round(col("open_raw"), 2).as("open"), Num.round(col("high_raw"), 2).as("high"),
        Num.round(col("low_raw"), 2).as("low"), Num.round(col("close_raw"), 2).as("close"),
        col("n"))
      .orderBy("event_type", "bar")

  final case class AnomEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_id: Long, vc: Long)
  final case class AnomFlag(user_id: Long, event_id: Long, vc: Long, s: Long, n: Long)

  /** INCREMENTAL rolling 3σ anomaly screen — the streaming twin of
    * q_dq_10_rolling_anomaly's 20-row sliding window. State per user =
    * the ring of the last ≤20 FINALIZED cent values (the batch frame
    * `ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING`) plus the buffer of
    * events still above the watermark; each micro-batch merges its
    * events in (ts, event_id) order and finalizes the below-watermark
    * prefix — a future event has ts ≥ watermark, so it can never sort
    * into the finalized stream and every flag decision sees exactly the
    * 20-row history the batch window sees. The σ test is the same
    * division-free integer form, so the flagged row SET is identical.
    *
    * Scale note: one shuffle on user_id; state is a bounded 20-long
    * ring + the watermark-delay buffer per key, evicted after
    * `idleTtlMinutes` of event-time inactivity (the
    * [[finalizeInEventOrder]] TTL discipline — an evicted key restarts
    * its history cold, trading a warm-up window for bounded state).
    */
  def rollingAnomalyStream(events: DataFrame,
      delay: String = "10 minutes",
      idleTtlMinutes: Long = 60): Dataset[AnomFlag] = {
    import events.sparkSession.implicits._
    val ds = events.withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .as[AnomEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Seq[Long], Seq[(Long, Long, Long)]), AnomFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[AnomEvent],
         state: GroupState[(Seq[Long], Seq[(Long, Long, Long)])]) =>
          val (ring0, buf0) = state.getOption.getOrElse((Seq.empty, Seq.empty))
          val incoming = events.map(e => (e.ts_us, e.event_id, e.vc)).toList
          val buf = (buf0 ++ incoming).sortBy(e => (e._1, e._2))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (done, open) = buf.partition(_._1 < wmUs)
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomFlag]
          var ring = ring0.toVector
          done.foreach { case (_, eid, vc) =>
            val n = ring.length.toLong
            if (n >= 10) {
              val s = ring.sum
              val sq = ring.map(v => v * v).sum
              // cents ≤ ~10^6, n ≤ 20 ⇒ every term < 2^63 (same bound
              // argument as the batch integer test)
              if ((n * vc - s) * (n * vc - s) * (n - 1) > 9L * n * (n * sq - s * s))
                out += AnomFlag(user, eid, vc, s, n)
            }
            ring = (ring :+ vc).takeRight(20)
          }
          // idle ⟺ the FIRING timeout was the idle one: nothing was
          // buffered at entry (buf0). A finalization timeout (armed to
          // open.head+1 to flush buffered events) also arrives with no
          // incoming data, but it must finalize and RE-ARM the idle
          // TTL, not evict — treating it as idle (the r12 bug found by
          // the ADVICE-requested TTL test) cold-restarted history on
          // the very next batch instead of after idleTtlMinutes.
          val idleExpired = state.hasTimedOut && incoming.isEmpty && buf0.isEmpty
          if (open.isEmpty && (ring.isEmpty || idleExpired)) state.remove()
          else {
            state.update((ring, open))
            if (open.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1L, open.head._1 / 1000L + 1L))
            else
              state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + idleTtlMinutes * 60000L)
          }
          out.iterator
      }
  }

  /** The q_dq_10_rolling_anomaly tail: derived columns and total order
    * off the flagged (event_id, user_id, vc, s, n) rows.
    */
  def rollingAnomalyFinish(flags: DataFrame): DataFrame =
    flags.select(col("event_id"), col("user_id"),
        Num.round(col("vc").cast("double") / 100, 2).as("value"),
        Num.round(col("s").cast("double") / col("n") / 100, 2).as("mu"))
      .orderBy("user_id", "event_id")

  final case class PurchaseEvent(user_id: Long, ts_us: Long, cents: Long)
  final case class RfmState(user_id: Long, last_us: Long, freq: Long,
      cents: Long, rev: Long)

  /** ONLINE per-user RFM sufficient statistics — the streaming half of
    * q_stream_27_rfm. State per user is exactly three mergeable exact
    * integers (max purchase micros, purchase count, cent sum) — O(1)
    * per user regardless of history, and every merge is commutative +
    * associative, so the LAST refinement per user equals the batch
    * aggregate under ANY arrival order. The quintile CUT itself is a
    * corpus-wide ranking and cannot be finalized online (one more
    * purchase anywhere can move every ntile boundary), so it lives in
    * `Pipelines.rfmSegments` over [[latestPerUser]] of this stream.
    */
  def rfmStream(events: DataFrame): Dataset[RfmState] = {
    import events.sparkSession.implicits._
    events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[PurchaseEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), RfmState](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[PurchaseEvent],
         state: GroupState[(Long, Long, Long, Long)]) =>
          var (last, freq, cents, rev) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L))
          batch.foreach { e =>
            if (e.ts_us > last) last = e.ts_us
            freq += 1
            cents += e.cents
          }
          rev += 1
          state.update((last, freq, cents, rev))
          Iterator.single(RfmState(user, last, freq, cents, rev))
      }
  }

  final case class TouchEvent(user_id: Long, ts_us: Long, event_type: String)
  final case class FunnelTouch(user_id: Long, t_view: Long, t_click: Long,
      t_buy: Long, rev: Long)

  /** ONLINE per-user funnel first-touch times — the streaming half of
    * q_stream_30_funnel_time. State per user = three mergeable exact
    * MIN timestamps (first view / first click / first purchase),
    * Long.MaxValue until seen — O(1) per user, order-insensitive, so
    * the last refinement per user equals the batch first-touch row.
    * The hop percentiles are corpus-wide order statistics and finalize
    * in the stateless [[funnelHopStats]] over [[latestPerUser]] of this
    * stream (Long.MaxValue read back as NULL).
    */
  def funnelTouchStream(events: DataFrame): Dataset[FunnelTouch] = {
    import events.sparkSession.implicits._
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[TouchEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), FunnelTouch](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[TouchEvent],
         state: GroupState[(Long, Long, Long, Long)]) =>
          var (tv, tc, tb, rev) = state.getOption.getOrElse(
            (Long.MaxValue, Long.MaxValue, Long.MaxValue, 0L))
          batch.foreach { e =>
            e.event_type match {
              case "view"     => if (e.ts_us < tv) tv = e.ts_us
              case "click"    => if (e.ts_us < tc) tc = e.ts_us
              case _          => if (e.ts_us < tb) tb = e.ts_us
            }
          }
          rev += 1
          state.update((tv, tc, tb, rev))
          Iterator.single(FunnelTouch(user, tv, tc, tb, rev))
      }
  }

  /** The q_stream_30_funnel_time tail over per-user first-touch micros
    * (t_view, t_click, t_buy; NULL until seen): per-hop gaps where both
    * touches exist and are ordered, then `Pipelines.funnelGapStats`'
    * exact order-statistic median/p90 picks truncated to minutes.
    */
  def funnelHopStats(f: DataFrame): DataFrame = {
    val hops = f.filter(col("t_view").isNotNull && col("t_click").isNotNull
        && col("t_click") >= col("t_view"))
      .select(lit("view_to_click").as("hop"), (col("t_click") - col("t_view")).as("gap_us"))
      .union(f.filter(col("t_click").isNotNull && col("t_buy").isNotNull
          && col("t_buy") >= col("t_click"))
        .select(lit("click_to_purchase").as("hop"), (col("t_buy") - col("t_click")).as("gap_us")))
    graft.api.Pipelines.funnelGapStats(hops)
  }

  /** The latest refinement per user of an online state stream: the row
    * with the highest `rev`, without `rev`. A state stream's last
    * refinement per user is what its declared query's tail reads.
    */
  private[graft] def latestPerUser(refinements: DataFrame): DataFrame =
    refinements
      .withColumn("__rk", row_number().over(Window.partitionBy("user_id").orderBy(col("rev").desc)))
      .filter(col("__rk") === 1)
      .drop("__rk", "rev")
}
