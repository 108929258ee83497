package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Live Structured Streaming runs of the §2.10 capabilities: file source
  * → windowed/session/stateful core → memory sink, driven synchronously
  * and cross-checked against the declared batch queries (SURVEY §2.10:
  * the batch queries are the oracle; the stream must agree). Where a
  * query's tail is a shared body, the test runs that same body on what
  * the stream settled, so each test checks that the streamed core
  * settles to the batch core.
  */
class StreamingSpec extends SparkSpec {

  private lazy val inputDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Streams.prepareStreamInput(spark, sf, dir)
    dir
  }

  test("streaming tumbling window agg matches batch result") {
    val q = Streams.toMemorySink(
      Streams.tumblingCounts(Streams.eventStream(spark, inputDir)),
      "stream_tumbling", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_tumbling")
      .select("win_start", "event_type", "n")
      .orderBy("win_start", "event_type").collect().toSeq
    val batch = Registry.byName("q_stream_1_tumbling").fn(spark, sf)
      .select("win_start", "event_type", "n")
      .orderBy("win_start", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming session windows match batch session_window") {
    val q = Streams.toMemorySink(
      Streams.sessionCounts(Streams.eventStream(spark, inputDir)),
      "stream_sessions", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_sessions")
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = Registry.byName("q_stream_3_session").fn(spark, sf)
      .select(col("session_start"), col("user_id"), col("n_events"))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming windowed top-k (agg stream + per-batch rank) matches q_stream_8") {
    val q = Streams.toMemorySink(
      Streams.topkPerWindow(Streams.eventStream(spark, inputDir)),
      "stream_topk", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.rankTopK(spark.table("stream_topk"), 2)
      .orderBy("win_start", "rk").collect().toSeq
    val batch = Registry.byName("q_stream_8_topk_window").fn(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("streaming dropDuplicates keeps one row per (user, type)") {
    val q = Streams.toMemorySink(
      Streams.dedupeKeyed(Streams.eventStream(spark, inputDir)),
      "stream_dedupe", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_dedupe")
    val nKeys = graft.sources.Tables(spark, sf, "events")
      .select("user_id", "event_type").distinct().count()
    assert(streamed.count() == nKeys)
    assert(streamed.select("user_id", "event_type").distinct().count() == nKeys)
  }

  test("EventTimeTimeout sessionizer matches the batch sessionizer once the watermark clears") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    // own input dir — sentinel rows must not pollute the shared stream tests
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_fmgws").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val real = spark.read.parquet(dir)
    val maxTsMs = real.agg(max(unix_millis(col("ts")))).as[Long].head()
    def appendSentinel(eventId: Long, tsMs: Long): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(Row(eventId, new java.sql.Timestamp(tsMs), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)

    // default trigger, NOT AvailableNow: the query must stay alive across
    // the sentinel rounds (AvailableNow terminates after the first drain,
    // silently ignoring later processAllAvailable calls)
    val q = Streams.sessionizeStream(Streams.eventStream(spark, dir), 30).toDF()
      .writeStream.format("memory").queryName("stream_fmgws")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: all real events, watermark still 0
      appendSentinel(-1L, maxTsMs + 3600000L)
      q.processAllAvailable() // batch 2: watermark = max(real) - delay
      appendSentinel(-2L, maxTsMs + 7200000L)
      q.processAllAvailable() // batch 3: watermark = max+1h-delay → all real sessions close
      appendSentinel(-3L, maxTsMs + 10800000L)
      q.processAllAvailable() // batch 4: fire any timeouts registered during batch 3
    } finally q.stop()

    val streamed = spark.table("stream_fmgws")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start_us")
      .as[Streams.UserSession].collect().toSeq
    // `real` re-lists the dir lazily and now sees the sentinel files too —
    // restrict both sides to the real users
    val batch = Streams.sessionize(
      real.filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us")).as[Streams.SessionEvent], 30)
      .orderBy("user_id", "session_start_us").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("incremental transition extraction matches the batch lead window once the watermark clears") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_trans").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val real = spark.read.parquet(dir)
    val maxTsMs = real.agg(max(unix_millis(col("ts")))).as[Long].head()
    def appendSentinel(eventId: Long, tsMs: Long): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(Row(eventId, new java.sql.Timestamp(tsMs), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)

    val q = Streams.transitionsStream(Streams.eventStream(spark, dir)).toDF()
      .writeStream.format("memory").queryName("stream_trans")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // watermark still 0 — everything buffered
      appendSentinel(-1L, maxTsMs + 3600000L)
      q.processAllAvailable() // watermark = max(real) - delay
      appendSentinel(-2L, maxTsMs + 7200000L)
      q.processAllAvailable() // watermark > max(real): every pair finalizes
      appendSentinel(-3L, maxTsMs + 10800000L)
      q.processAllAvailable() // fire timeouts registered during the prior batch
    } finally q.stop()

    val streamed = spark.table("stream_trans")
      .filter(col("user_id") >= 0)
      .groupBy("a", "b").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val batch = graft.api.Pipelines.transitionMatrix(
        real.filter(col("user_id") >= 0), "user_id", "event_type", Seq("ts", "event_id"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streamed activity dedupe + DAU/WAU finisher matches q_stream_20") {
    val q = Streams.toMemorySink(
      Streams.activityStream(Streams.eventStream(spark, inputDir)),
      "stream_activity_dau", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.api.Pipelines.dauWau(spark.table("stream_activity_dau"), "user_id", "day")
      .orderBy("day").collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_20_dau_wau").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed activity dedupe + retention finisher matches q_stream_32") {
    val q = Streams.toMemorySink(
      Streams.activityStream(Streams.eventStream(spark, inputDir)),
      "stream_activity_ret", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.api.Pipelines.retentionCurve(spark.table("stream_activity_ret"), "user_id", "day")
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_32_retention_curve").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("online abandonment verdicts: last refinement per user matches q_stream_31") {
    val q = Streams.toMemorySink(
      Streams.abandonmentStream(Streams.eventStream(spark, inputDir)).toDF(),
      "stream_abandon", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.abandonmentByWeekday(Streams.latestPerUser(spark.table("stream_abandon")))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_31_abandonment").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("incremental dwell extraction matches q_stream_36 once the watermark clears") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dwell").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val maxTsMs = spark.read.parquet(dir)
      .agg(max(unix_millis(col("ts")))).as[Long].head()
    def appendSentinel(eventId: Long, tsMs: Long): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(Row(eventId, new java.sql.Timestamp(tsMs), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)
    val q = Streams.dwellStream(Streams.eventStream(spark, dir)).toDF()
      .writeStream.format("memory").queryName("stream_dwell")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      appendSentinel(-1L, maxTsMs + 3600000L)
      q.processAllAvailable()
      appendSentinel(-2L, maxTsMs + 7200000L)
      q.processAllAvailable()
      appendSentinel(-3L, maxTsMs + 10800000L)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.dwellFinish(
        spark.table("stream_dwell").filter(col("user_id") >= 0))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_36_dwell").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming hourly load + percentile finisher matches q_stream_42") {
    val q = Streams.toMemorySink(
      Streams.hourlyLoadStream(Streams.eventStream(spark, inputDir)),
      "stream_load", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.loadPercentilesFinish(spark.table("stream_load"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_42_load_percentiles").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("online last-touch attribution matches the batch carry-forward window") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_attr").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val real = spark.read.parquet(dir)
    val maxTsMs = real.agg(max(unix_millis(col("ts")))).as[Long].head()
    def appendSentinel(eventId: Long, tsMs: Long): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(Row(eventId, new java.sql.Timestamp(tsMs), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)

    val q = Streams.attributionStream(Streams.eventStream(spark, dir)).toDF()
      .writeStream.format("memory").queryName("stream_attr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      appendSentinel(-1L, maxTsMs + 3600000L)
      q.processAllAvailable()
      appendSentinel(-2L, maxTsMs + 7200000L)
      q.processAllAvailable()
      appendSentinel(-3L, maxTsMs + 10800000L)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_attr")
      .filter(col("user_id") >= 0)
      .groupBy("channel").agg(count(lit(1)).as("n"),
        sum(when(col("gap_us") >= 0, col("gap_us")).otherwise(0L)).as("gsum"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val batchRows = graft.api.Pipelines.lastTouchAttribution(
        real.filter(col("user_id") >= 0), "user_id", "ts", "event_type", "purchase", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed.nonEmpty)
    assert(streamed.view.mapValues(_._1).toMap == batchRows)
    // gap totals agree with the declared query's mean within rounding:
    // mean_gap_min = round(gsum / gn / 6e7, 2)
    val pinned = Registry.byName("q_stream_17_attribution").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toMap
    streamed.foreach { case (ch, (n, gsum)) =>
      if (ch != "none") {
        val mean = math.floor(gsum.toDouble / n / 60000000L * 100 + 0.5) / 100
        assert(mean == pinned(ch), s"$ch: $mean != ${pinned(ch)}")
      }
    }
  }

  test("foreachBatch idempotent sink: a retried batch does not duplicate rows") {
    val out = java.nio.file.Files.createTempDirectory("graft_fb_sink").toString
    val q = Streams.idempotentParquetSink(Streams.eventStream(spark, inputDir), out)
      .queryName("fb_sink").start()
    try q.processAllAvailable() finally q.stop()
    val total = spark.read.parquet(out).count()
    assert(total == spark.read.parquet(inputDir).count())
    // simulate foreachBatch's at-least-once retry: replay batch 0 verbatim
    val b0 = spark.read.parquet(s"$out/batch_id=0")
    val replay = spark.createDataFrame(
      java.util.Arrays.asList(b0.collect(): _*), b0.schema)
    Streams.writeBatch(replay, out, 0L)
    assert(spark.read.parquet(out).count() == total, "retry must replace, not append")
  }

  test("checkpointed restart resumes from offsets — no reprocessing, exactly-once sink") {
    val in = java.nio.file.Files.createTempDirectory("graft_ckpt_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_meta").toString
    Streams.prepareStreamInput(spark, sf, in)
    def run(): Unit = {
      val q = Streams.idempotentParquetSink(Streams.eventStream(spark, in), out)
        .option("checkpointLocation", ckpt).queryName("fb_ckpt").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == spark.read.parquet(in).count())
    // second generation arrives while the query is DOWN; restart resumes
    // from the checkpointed offsets and processes only the new files
    val gen2 = spark.read.parquet(in).limit(50).collect()
    spark.createDataFrame(
      java.util.Arrays.asList(gen2: _*), Streams.eventSchema)
      .write.mode("append").parquet(in)
    run()
    assert(spark.read.parquet(out).count() == n1 + 50,
      "restart must process exactly the 50 new rows, nothing twice")
  }

  test("stream-static enrichment join matches the batch twin (q_stream_12)") {
    val dim = spark.read.parquet(s"$sf/customer.parquet")
    val q = Streams.toMemorySink(
      Streams.enrichedSegmentCounts(Streams.eventStream(spark, inputDir), dim),
      "stream_enrich", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    // compare the integer columns (float sums accumulate in a different
    // merge order under incremental execution — same reason the tumbling
    // test pins counts, not sums)
    val streamed = spark.table("stream_enrich")
      .select(col("window.start").as("win_start"),
        col("c_mktsegment").as("segment"), col("n"))
      .orderBy("win_start", "segment").collect().toSeq
    val batch = Registry.byName("q_stream_12_stream_static").fn(spark, sf)
      .select("win_start", "segment", "n")
      .orderBy("win_start", "segment").collect().toSeq
    assert(streamed == batch)
  }

  test("stream-stream LEFT OUTER join emits null-click rows after watermark passes") {
    import org.apache.spark.sql.Row
    // own dir: sentinels advance the watermark so unmatched purchases flush
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_lo").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val maxTsMs = spark.read.parquet(dir)
      .agg(max(unix_millis(col("ts")))).head().getLong(0)
    def appendSentinel(eventId: Long, tsMs: Long, eventType: String): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(Row(eventId, new java.sql.Timestamp(tsMs), -1L, eventType, 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)

    val q = Streams.clickPurchaseLeftJoin(Streams.eventStream(spark, dir))
      .writeStream.format("memory").queryName("stream_lo")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // both types so BOTH sides' watermarks advance (the join watermark
      // is the min of the two inputs')
      appendSentinel(-1L, maxTsMs + 10800000L, "click")
      appendSentinel(-2L, maxTsMs + 10800000L, "purchase")
      q.processAllAvailable()
      appendSentinel(-3L, maxTsMs + 21600000L, "click")
      appendSentinel(-4L, maxTsMs + 21600000L, "purchase")
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_lo").filter(col("user_id") >= 0)
      .orderBy("purchase_id", "click_id").collect().toSeq
    val batchEvents = graft.sources.Tables(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batch = Streams.clickPurchaseLeftJoin(batchEvents)
      .orderBy("purchase_id", "click_id").collect().toSeq
    assert(streamed.exists(_.isNullAt(2)), "expected unmatched purchases with null click_id")
    assert(streamed == batch)
  }

  test("online rate-anomaly stream: prefix z-scores replicate; final stats match the batch minutes") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_rate").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val real = spark.read.parquet(dir)
    val maxTsMs = real.agg(max(unix_millis(col("ts")))).as[Long].head()
    def appendSentinel(eventId: Long, tsMs: Long): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(Row(eventId, new java.sql.Timestamp(tsMs), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)

    val q = Streams.rateAnomalyStream(Streams.eventStream(spark, dir)).toDF()
      .writeStream.format("memory").queryName("stream_rate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      appendSentinel(-1L, maxTsMs + 3600000L)
      q.processAllAvailable()
      appendSentinel(-2L, maxTsMs + 7200000L)
      q.processAllAvailable()
      appendSentinel(-3L, maxTsMs + 10800000L)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_rate")
      .filter(col("event_type") =!= "sentinel")
      .orderBy("event_type", "minute_id")
      .as[Streams.MinuteRate].collect().toSeq
    assert(streamed.nonEmpty)
    // replicate: per type, minutes in order; z from the exact prefix stats
    val minutes = real.filter(col("event_type") =!= "sentinel")
      .select(col("event_type"), (unix_micros(col("ts")) / 60000000L).cast("long").as("m"))
      .groupBy("event_type", "m").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = minutes.groupBy(_._1).toSeq.flatMap { case (t, ms) =>
      var (m, s1, s2) = (0L, 0L, 0L)
      ms.sortBy(_._2).map { case (_, minute, n) =>
        val den = m.toDouble * s2.toDouble - s1.toDouble * s1.toDouble
        val z = if (m >= 2 && den > 0) (m.toDouble * n - s1.toDouble) / math.sqrt(den) else 0.0
        val row = Streams.MinuteRate(t, minute, n, m, z)
        m += 1; s1 += n; s2 += n * n
        row
      }
    }.sortBy(r => (r.event_type, r.minute_id))
    assert(streamed.size == expected.size,
      s"streamed ${streamed.size} rows != ${expected.size} batch minutes (buckets not drained?)")
    assert(streamed == expected)
  }

  test("stream-stream click-purchase join matches the batch join") {
    val q = Streams.toMemorySink(
      Streams.clickPurchaseJoin(Streams.eventStream(spark, inputDir)),
      "stream_sj", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_sj")
      .orderBy("purchase_id", "click_id").collect().toSeq
    val batchEvents = graft.sources.Tables(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val batch = Streams.clickPurchaseJoin(batchEvents)
      .orderBy("purchase_id", "click_id").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("online user entropy converges to the batch q_stream_29 values") {
    import org.apache.spark.sql.expressions.Window
    val q = Streams.entropyStream(Streams.eventStream(spark, inputDir)).toDF()
      .writeStream.format("memory").queryName("stream_entropy")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // last emitted refinement per user = the full-count entropy
    val streamed = spark.table("stream_entropy")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("n_events").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "h6")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch replication with the identical quantized-term formula
    val batch = graft.sources.Tables(spark, sf, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues { cs =>
        val n = cs.map(_._3).sum
        cs.map { c =>
          val p = c._3.toDouble / n
          math.floor(-p * math.log(p) / math.log(2.0) * 1e6 + 0.5).toLong
        }.sum
      }.toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // and the top-10 ranking agrees with the declared query
    val pinned = Registry.byName("q_stream_29_user_entropy").fn(spark, sf)
      .collect().map(r => (r.getLong(0), math.floor(r.getDouble(1) * 1e6 + 0.5).toLong))
    pinned.foreach { case (u, h6) => assert(streamed(u) == h6, s"user $u") }
  }
  test("online bot screen: last refinement per user equals the batch q_stream_40 flags") {
    import org.apache.spark.sql.expressions.Window
    val q = Streams.botScreenStream(Streams.eventStream(spark, inputDir)).toDF()
      .writeStream.format("memory").queryName("stream_botscreen")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("stream_botscreen")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("n_events").desc)))
      .filter(col("rn") === 1)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(streamed.nonEmpty)
    val agg = (streamed.map(_._1).sum, streamed.map(_._2).sum,
      streamed.map(_._3).sum, streamed.map(_._4).sum)
    val pinned = Registry.byName("q_stream_40_bot_screen").fn(spark, sf).collect().head
    assert(agg == ((pinned.getLong(1), pinned.getLong(2),
      pinned.getLong(3), pinned.getLong(4))))
    assert(streamed.length.toLong == pinned.getLong(0))
  }

  // ---- round-9 twins ----

  test("streamed minute counts + z finisher match q_stream_15_rate_burst") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_burst").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val maxTsMs = spark.read.parquet(dir)
      .agg(max(unix_millis(col("ts")))).collect().head.getLong(0)
    // default trigger, NOT AvailableNow (same reason as the day-count
    // twin: the sentinel appends must reach a live query)
    val q = Streams.minuteTypeCounts(Streams.eventStream(spark, dir))
      .writeStream.format("memory").queryName("stream_burst")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // sentinel far past every real minute + the 30-min watermark →
      // all real windows close; the sentinel's own window stays open
      // and never reaches the sink
      spark.createDataFrame(
        java.util.Arrays.asList(Row(-1L,
          new java.sql.Timestamp(maxTsMs + 7200000L), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)
      q.processAllAvailable()
      spark.createDataFrame(
        java.util.Arrays.asList(Row(-2L,
          new java.sql.Timestamp(maxTsMs + 10800000L), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Streams.rateBurstFinish(
        spark.table("stream_burst").filter(col("event_type") =!= "sentinel"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_15_rate_burst").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("online path trigrams + finisher match q_stream_34_path_trigrams") {
    val q = Streams.toMemorySink(
      Streams.pathTrigramStream(Streams.eventStream(spark, inputDir)).toDF(),
      "stream_trigram", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.api.Pipelines.topPathNgrams(spark.table("stream_trigram"), "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_34_path_trigrams").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed (day,type) counts power volume-trend and weekend-lift finishers") {
    import org.apache.spark.sql.Row
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_days").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val maxTsMs = spark.read.parquet(dir)
      .agg(max(unix_millis(col("ts")))).collect().head.getLong(0)
    // default trigger, NOT AvailableNow: the query must stay alive
    // across the sentinel rounds (AvailableNow terminates after the
    // first drain and silently ignores later appends — the dwell-test
    // lesson)
    val q = Streams.typeDayCounts(Streams.eventStream(spark, dir))
      .writeStream.format("memory").queryName("stream_daytype")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // two sentinels far past every real day + the 1-day watermark →
      // every real day window closes; the sentinels' windows stay open
      for ((id, off) <- Seq((-1L, 3L), (-2L, 5L), (-3L, 7L))) {
        spark.createDataFrame(
          java.util.Arrays.asList(Row(id,
            new java.sql.Timestamp(maxTsMs + off * 86400000L), -1L, "sentinel", 0.0)),
          Streams.eventSchema).write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val dd = spark.table("stream_daytype").filter(col("event_type") =!= "sentinel")
    val trendS = Streams.volumeTrendFinish(dd).collect().map(_.toSeq).toSeq
    val trendB = Registry.byName("q_stream_26_volume_trend").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(trendS.nonEmpty && trendS == trendB)
    // back to one (event_type, day) row per event: every streamed y is
    // at least 1, so the day sets and per-type counts are the batch ones
    val liftS = Streams.weekendLiftFinish(dd.select(col("event_type"), col("day"),
        explode(array_repeat(lit(1), col("y").cast("int")))).drop("col"))
      .collect().map(_.toSeq).toSeq
    val liftB = Registry.byName("q_stream_39_weekend_lift").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(liftS.nonEmpty && liftS == liftB)
  }

  test("running per-user last-day + finisher match q_stream_35_churn_horizons") {
    val q = Streams.toMemorySink(
      Streams.userLastDay(Streams.eventStream(spark, inputDir)),
      "stream_lastday", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.api.Pipelines.churnHorizons(spark.table("stream_lastday"), "user_id",
        col("last_day"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_35_churn_horizons").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed minute counts + finisher match q_stream_21_peak_load") {
    val q = Streams.toMemorySink(
      Streams.minuteCounts(Streams.eventStream(spark, inputDir)),
      "stream_minutes", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.peakLoadFinish(spark.table("stream_minutes"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_21_peak_load").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed session spans + sweep-line finisher match q_stream_22_concurrency") {
    val q = Streams.toMemorySink(
      Streams.sessionSpans(Streams.eventStream(spark, inputDir)),
      "stream_spans", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.concurrencyFinish(spark.table("stream_spans"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_22_concurrency").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed session spans + time-weighted finisher match q_stream_43_conc_profile") {
    val q = Streams.toMemorySink(
      Streams.sessionSpans(Streams.eventStream(spark, inputDir)),
      "stream_spans_prof", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.concProfileFinish(spark.table("stream_spans_prof"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_43_conc_profile").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed min_by/max_by OHLC bars match q_time_3_ohlc") {
    val q = Streams.toMemorySink(
      Streams.ohlcBars(Streams.eventStream(spark, inputDir)),
      "stream_ohlc", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.ohlcFinish(spark.table("stream_ohlc"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_time_3_ohlc").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed OHLC bars + gap finisher match q_time_30_bar_gaps") {
    val q = Streams.toMemorySink(
      Streams.ohlcBars(Streams.eventStream(spark, inputDir)),
      "stream_ohlc_gaps", complete = true).start()
    try q.processAllAvailable() finally q.stop()
    // the bars carry raw picks; the q_time_30 tail takes their cents
    def cents(c: String) = floor(col(c) * 100 + 0.5).cast("long")
    val streamed = Streams.barGapsFinish(spark.table("stream_ohlc_gaps")
        .select(col("event_type"), col("bar"), cents("open_raw").as("open_c"),
          cents("close_raw").as("close_c")))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_time_30_bar_gaps").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("incremental rolling 3-sigma screen matches q_dq_10_rolling_anomaly once the watermark clears") {
    import org.apache.spark.sql.Row
    // own input dir — the sentinel rows that advance the watermark must
    // not pollute the shared-stream tests
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_anom").toString
    Streams.prepareStreamInput(spark, sf, dir)
    val real = spark.read.parquet(dir)
    val maxTsMs = real.agg(max(unix_millis(col("ts")))).collect()(0).getLong(0)
    def appendSentinel(eventId: Long, tsMs: Long): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(Row(eventId, new java.sql.Timestamp(tsMs), -1L, "sentinel", 0.0)),
        Streams.eventSchema).write.mode("append").parquet(dir)

    val q = Streams.rollingAnomalyStream(Streams.eventStream(spark, dir)).toDF()
      .writeStream.format("memory").queryName("stream_anom")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // watermark still 0 — everything buffered
      appendSentinel(-1L, maxTsMs + 3600000L)
      q.processAllAvailable() // watermark = max(real) - delay
      appendSentinel(-2L, maxTsMs + 7200000L)
      q.processAllAvailable() // watermark > max(real): every row finalizes
      appendSentinel(-3L, maxTsMs + 10800000L)
      q.processAllAvailable() // fire timeouts registered during the prior batch
    } finally q.stop()

    val streamed = Streams.rollingAnomalyFinish(
        spark.table("stream_anom").filter(col("user_id") >= 0))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_dq_10_rolling_anomaly").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamed purchase activity + lifecycle finisher match q_stream_23_lifecycle") {
    val q = Streams.toMemorySink(
      Streams.activityStream(
        Streams.eventStream(spark, inputDir).filter(col("event_type") === "purchase")),
      "stream_activity_life", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Streams.lifecycleFinish(spark.table("stream_activity_life"))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_23_lifecycle").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("rolling anomaly idle TTL: history survives finalization, evicts after the TTL, restarts cold") {
    import org.apache.spark.sql.Row
    // Synthetic-only input dir; minute-grained event times. Pins the
    // three timeout behaviors the shared-stream row-equality test never
    // reaches (r11 ADVICE): (1) a finalization timeout flushes buffered
    // events WITHOUT evicting the ring (user 7 flags at m10 against the
    // m0-m9 warm-up), (2) after 60 event-time minutes of inactivity the
    // idle timeout evicts, (3) the next event restarts COLD — user 7's
    // m150 outlier does NOT flag (a warm ring of ten 1.00s would have
    // flagged it, as user 8's control proves).
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ttl").toString
    val m = 60000L // one minute in ms
    var nextId = 1L
    def write(rows: (Long, Long, Double)*): Unit = { // (user, minute, value)
      val data = rows.map { case (u, min, v) =>
        val id = nextId; nextId += 1
        // +1000 min base: an event at exactly epoch 0 == the INITIAL
        // watermark value and is filtered as late before the state op
        Row(id, new java.sql.Timestamp((1000 + min) * m), u, if (u < 0) "sentinel" else "purchase", v)
      }
      spark.createDataFrame(java.util.Arrays.asList(data: _*), Streams.eventSchema)
        .write.mode("append").parquet(dir)
    }
    write((0 until 10).map(i => (7L, i.toLong, 1.0)) :+ ((7L, 10L, 99.0)): _*)

    val q = Streams.rollingAnomalyStream(Streams.eventStream(spark, dir)).toDF()
      .writeStream.format("memory").queryName("stream_ttl")
      .outputMode("append").start()
    try {
      q.processAllAvailable()              // wm 0: all buffered
      write((-1L, 60L, 0.0)); q.processAllAvailable() // after: wm=m50
      write((-1L, 70L, 0.0)); q.processAllAvailable() // finalization timeout
      // fires at wm m50: m0-m10 flush, m10 flags, ring kept, idle TTL
      // re-arms to m50+60=m110
      write((-1L, 130L, 0.0)); q.processAllAvailable() // batch wm m60 < m110: no fire; after: wm=m120
      write((-1L, 140L, 0.0)); q.processAllAvailable() // batch wm m120 > m110: idle EVICTION
      // post-gap: user 7 outlier first (cold -> must NOT flag); user 8
      // is the warm control (ten 1.00s then an outlier -> must flag)
      write(((7L, 150L, 99.0) +: (0 until 10).map(i => (8L, (150 + i).toLong, 1.0))) :+ ((8L, 160L, 99.0)): _*)
      q.processAllAvailable()
      write((-1L, 300L, 0.0)); q.processAllAvailable()
      write((-1L, 310L, 0.0)); q.processAllAvailable() // finalize post-gap events
      write((-1L, 320L, 0.0)); q.processAllAvailable() // fire trailing timeouts
    } finally q.stop()

    val flags = spark.table("stream_ttl").select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val m10Id = 11L // user 7's phase-A outlier (11th row written)
    assert(flags.contains((7L, m10Id)),
      s"warm phase-A outlier must flag through the finalization timeout; got $flags")
    assert(flags.count(_._1 == 7L) == 1,
      s"user 7's post-eviction outlier must NOT flag (cold restart); got $flags")
    assert(flags.count(_._1 == 8L) == 1,
      s"user 8's warm outlier must flag exactly once (control); got $flags")
  }

  test("transition stream: a finalization timeout keeps the last type for the next event") {
    import org.apache.spark.sql.Row
    // User 7's first two events are flushed by a finalization timeout
    // (no new data for the key); its next event, 74 event-time minutes
    // later, must still pair with the last flushed type, as the batch
    // lead window pairs it. Minute-grained times from a 1000-minute base
    // (an event at epoch 0 equals the initial watermark).
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_trans_ttl").toString
    var nextId = 1L
    def write(rows: (Long, Long, String)*): Unit = { // (user, minute, type)
      val data = rows.map { case (u, m, t) =>
        val id = nextId; nextId += 1
        Row(id, new java.sql.Timestamp((1000 + m) * 60000L), u, t, 0.0)
      }
      spark.createDataFrame(java.util.Arrays.asList(data: _*), Streams.eventSchema)
        .write.mode("append").parquet(dir)
    }
    write((7L, 0L, "view"), (7L, 1L, "click"))
    val q = Streams.transitionsStream(Streams.eventStream(spark, dir)).toDF()
      .writeStream.format("memory").queryName("stream_trans_ttl")
      .outputMode("append").start()
    try {
      q.processAllAvailable()                        // wm 0: both buffered
      write((-1L, 60L, "sentinel")); q.processAllAvailable()
      write((-1L, 70L, "sentinel")); q.processAllAvailable() // wm m50: timeout flushes m0, m1
      write((7L, 75L, "purchase"), (-1L, 100L, "sentinel")); q.processAllAvailable()
      write((-1L, 150L, "sentinel")); q.processAllAvailable() // wm m90: m75 finalizes
      write((-1L, 160L, "sentinel")); q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("stream_trans_ttl").filter(col("user_id") === 7L)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(pairs == Set(("view", "click"), ("click", "purchase")), s"got $pairs")
  }

  // ── tranche 5 (round 12) ─────────────────────────────────────────────

  test("online RFM state + quintile finisher match q_stream_27_rfm") {
    val q = Streams.toMemorySink(
      Streams.rfmStream(Streams.eventStream(spark, inputDir)).toDF(),
      "stream_rfm", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.api.Pipelines.rfmSegments(Streams.latestPerUser(spark.table("stream_rfm")),
        "user_id", "last_us", "freq", "cents").orderBy("r", "f", "m")
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_27_rfm").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("online funnel first-touch state + percentile finisher match q_stream_30") {
    val q = Streams.toMemorySink(
      Streams.funnelTouchStream(Streams.eventStream(spark, inputDir)).toDF(),
      "stream_funnel_touch", complete = false).start()
    try q.processAllAvailable() finally q.stop()
    // Long.MaxValue marks a touch not seen yet; the batch tail reads NULL
    def seen(c: String) = when(col(c) =!= Long.MaxValue, col(c)).as(c)
    val streamed = Streams.funnelHopStats(Streams.latestPerUser(spark.table("stream_funnel_touch"))
        .select(col("user_id"), seen("t_view"), seen("t_click"), seen("t_buy")))
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_stream_30_funnel_time").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }
}
