package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num.round

/** §2.10 — event/streaming semantics, batch-checkable forms.
  *
  * Each query is the batch twin of a Structured Streaming program:
  * `window()`/`session_window()` aggregate identically under
  * `readStream` (see graft.streaming.StreamingSessionize for the live
  * `writeStream` counterpart, unit-tested with a memory sink).
  *
  * Scale notes: tumbling/sliding windows shuffle on (window, key) — state
  * is O(open windows × keys). Session windows shuffle on user_id and merge
  * ranges per key. Watermarking bounds state retention in the streaming
  * twin; its batch analogue (the max(ts)-10min filter) is expressed per
  * key with one window pass.
  */
object EventOps {

  val all: Seq[Q] = Seq(

    Q("q_stream_1_tumbling",
      """SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS win_start, event_type,
        | count(*) AS n, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      // Tumbling 1h windows: Spark's window() aligns to the 1970 epoch,
      // as does DuckDB's time_bucket for hour buckets.
      graft.streaming.Streams.tumblingCounts(Tables(s, d, "events"))
        .withColumn("sum_value", round(col("sum_value"), 2))
        .orderBy("win_start", "event_type")
    },

    Q("q_stream_2_sliding",
      """SELECT win_start, event_type, count(*) AS n, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value FROM (
        | SELECT time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP) - k.k * INTERVAL '15 minutes' AS win_start,
        |  event_type, value
        | FROM events, (SELECT unnest(range(0, 4)) AS k) k)
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      // 1h windows sliding every 15min: each event belongs to exactly 4
      // windows; the oracle reconstructs them by shifting the 15-min bucket.
      Tables(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },

    Q("q_stream_3_session",
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
        |x AS (SELECT user_id, ts,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
        |   THEN 1 ELSE 0 END AS brk
        | FROM e),
        |s AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        | epoch_us(max(ts) - min(ts)) AS span_us
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      // session_window(gap=30min) in batch mode; the oracle rebuilds the
      // same sessions with gap-and-island SQL (strictly-greater gap test,
      // matching Spark's merge rule: an event at exactly prev+gap merges).
      Tables(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), min("ts").as("mn"), max("ts").as("mx"))
        .select(col("user_id"), col("mn").as("session_start"), col("n_events"),
          (unix_micros(col("mx")) - unix_micros(col("mn"))).as("span_us"))
        .orderBy("user_id", "session_start")
    },

    Q("q_stream_4_late",
      """WITH m AS (SELECT user_id AS m_uid, max(ts::TIMESTAMP) AS mx FROM events GROUP BY user_id)
        |SELECT e.user_id, time_bucket(INTERVAL '1 hour', e.ts::TIMESTAMP) AS win_start, count(*) AS n
        |FROM events e JOIN m ON e.user_id = m.m_uid
        |WHERE e.ts::TIMESTAMP >= m.mx - INTERVAL '10 minutes'
        |GROUP BY 1, 2 ORDER BY user_id, win_start""".stripMargin) { (s, d) =>
      // Batch analogue of withWatermark("ts", "10 minutes"): drop events
      // more than 10min behind the per-key high-water mark, then window.
      val ev = Tables(s, d, "events")
      val wm = Window.partitionBy("user_id")
      ev.withColumn("mx", max("ts").over(wm))
        .filter(col("ts") >= col("mx") - expr("INTERVAL 10 MINUTES"))
        .groupBy(col("user_id"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("window.start").as("win_start"), col("n"))
        .orderBy("user_id", "win_start")
    },

    Q("q_stream_6_funnel",
      """WITH stages AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts::TIMESTAMP END) AS t_signup,
        |  min(CASE WHEN event_type = 'view' THEN ts::TIMESTAMP END) AS t_view,
        |  min(CASE WHEN event_type = 'purchase' THEN ts::TIMESTAMP END) AS t_purchase
        | FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        | count(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
        | count(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup THEN 1 END) AS n_viewed_after,
        | count(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup AND t_purchase > t_view THEN 1 END) AS n_converted
        |FROM stages""".stripMargin) { (s, d) =>
      // Funnel analysis: signup → view → purchase in strict time order,
      // per user, counted at each stage. One aggregate pass builds the
      // per-user stage timestamps (no self-joins) — the shape that holds
      // at billions of users.
      val ev = Tables(s, d, "events")
      val stages = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      stages.agg(
        count(lit(1)).as("n_users"),
        count(when(col("t_signup").isNotNull, 1)).as("n_signup"),
        count(when(col("t_signup").isNotNull && col("t_view") > col("t_signup"), 1)).as("n_viewed_after"),
        count(when(col("t_signup").isNotNull && col("t_view") > col("t_signup")
          && col("t_purchase") > col("t_view"), 1)).as("n_converted"))
    },

    Q("q_stream_7_cohort",
      """WITH first_seen AS (
        | SELECT user_id, time_bucket(INTERVAL '7 days', min(ts::TIMESTAMP), TIMESTAMP '1970-01-01') AS cohort_week
        | FROM events GROUP BY user_id)
        |SELECT f.cohort_week, time_bucket(INTERVAL '7 days', e.ts::TIMESTAMP, TIMESTAMP '1970-01-01') AS active_week,
        | count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN first_seen f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_week, active_week""".stripMargin) { (s, d) =>
      // NB: time_bucket's default origin for day-multiple widths is
      // 2000-01-03 (Monday-aligned); Spark's window() aligns to the 1970
      // epoch — the explicit origin keeps the two engines' weeks equal.
      // Cohort retention: users grouped by first-seen week × week of
      // activity. first_seen is user-cardinality → broadcast at this
      // scale; at 100 TB it pre-aggregates to one row per user before
      // the join either way.
      val ev = Tables(s, d, "events")
      val firstSeen = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"),
          window(col("first_ts"), "7 days").getField("start").as("cohort_week"))
      ev.join(broadcast(firstSeen), "user_id")
        .groupBy(col("cohort_week"), window(col("ts"), "7 days").getField("start").as("active_week"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_week", "active_week")
    },

    Q("q_stream_5_dedupe_keyed",
      """SELECT user_id, event_type, event_id, ts_s FROM (
        | SELECT user_id, event_type, event_id, date_trunc('second', ts::TIMESTAMP) AS ts_s,
        |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      // Streaming dropDuplicates-by-key equivalent: first event per
      // (user_id, event_type), deterministically tie-broken by event_id.
      val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
      Tables(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"))
        .orderBy("user_id", "event_type")
    }
  )
}
