package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11ap): product retention and
  * heavy-tail inter-event analysis.
  *
  * Determinism discipline (§2.12): retention is exact distinct-user
  * set algebra on integer day arithmetic; the tail fit reuses the
  * quantized log-log OLS pattern over exact log-binned counts.
  */
object Round5agOps {

  val all: Seq[Q] = Seq(

    // D1/D7/D30 retention: of all users, what share was active again
    // exactly 1/7/30 days after their FIRST day — the product-health
    // curve (q_stream_7's cohort matrix is week×week; this is the
    // headline day-offset readout aggregated over all cohorts).
    Q("q_stream_32_retention_curve",
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM ud GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ud WHERE ud.user_id = f.user_id AND ud.day = f.d0 + 1) THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ud WHERE ud.user_id = f.user_id AND ud.day = f.d0 + 7) THEN 1 ELSE 0 END) AS BIGINT) AS d7,
        | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ud WHERE ud.user_id = f.user_id AND ud.day = f.d0 + 30) THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        | floor(CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ud WHERE ud.user_id = f.user_id AND ud.day = f.d0 + 1) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS d1_rate,
        | floor(CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ud WHERE ud.user_id = f.user_id AND ud.day = f.d0 + 7) THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS d7_rate
        |FROM f""".stripMargin) { (s, d) =>
      graft.api.Pipelines.retentionCurve(Tables(s, d, "events")
          .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day")),
        "user_id", "day")
    },

    // Inter-event gap tail: power-of-two-binned gap histogram + the
    // tail exponent from a quantized log-log OLS over the bins —
    // q_stream_14's CV says bursty-or-not; the exponent says HOW the
    // burst tail decays (finite vs infinite variance regimes).
    Q("q_stream_33_gap_tail",
      """WITH g AS (SELECT user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        | FROM events),
        |b AS (SELECT CAST(floor(ln(CAST(gap AS DOUBLE) / 1000000) / ln(2.0)) AS BIGINT) AS bin
        | FROM g WHERE gap IS NOT NULL AND gap >= 1000000),
        |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |mode AS (SELECT bin AS mb FROM h ORDER BY n DESC, bin LIMIT 1),
        |pts AS (SELECT CAST(bin AS DOUBLE) AS x,
        |  CAST(floor(ln(CAST(n AS DOUBLE)) / ln(2.0) * 1000000 + 0.5) AS BIGINT) AS y6
        | FROM h, mode WHERE n >= 4 AND bin >= mb),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS DOUBLE) AS sx,
        |  CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y6) AS BIGINT) AS sy,
        |  CAST(sum(x * y6) AS DOUBLE) AS sxy FROM pts)
        |SELECT k AS n_bins,
        | floor((k * sxy - sx * sy) / (k * sxx - sx * sx) / 1000000 * 10000 + 0.5) / 10000 AS tail_slope
        |FROM m""".stripMargin) { (s, d) =>
      // Bins are exact integers (floor log2 of whole seconds); per-bin
      // log-counts quantize to 1e-6 BEFORE the OLS sums (the q_text_25
      // Zipf discipline). The fit covers only the TAIL side — bins at
      // or beyond the modal bin (mode = max count, smallest-bin
      // tie-break) — because log-binned counts RISE up to the
      // distribution's mode before decaying; sparse bins (n < 4)
      // excluded, stated. One lag window + one histogram shuffle.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val g = Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w)).as("gap"))
      val b = g.filter(col("gap").isNotNull && col("gap") >= 1000000L)
        .select(floor(log(col("gap").cast("double") / 1000000) / log(lit(2.0)))
          .cast("long").as("bin"))
      val h = b.groupBy("bin").agg(count(lit(1)).as("n")).localCheckpoint()
      val mode = h.orderBy(col("n").desc, col("bin")).limit(1)
        .select(col("bin").as("mb"))
      val pts = h.crossJoin(broadcast(mode))
        .filter(col("n") >= 4 && col("bin") >= col("mb"))
        .select(col("bin").cast("double").as("x"),
          floor(log(col("n").cast("double")) / log(lit(2.0)) * 1000000 + 0.5).cast("long").as("y6"))
      val m = pts.agg(count(lit(1)).as("k"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum("y6").as("sy"),
        sum(col("x") * col("y6")).as("sxy"))
      m.select(col("k").as("n_bins"),
        (floor((col("k") * col("sxy") - col("sx") * col("sy"))
          / (col("k") * col("sxx") - col("sx") * col("sx")) / 1000000 * 10000 + 0.5) / 10000)
          .as("tail_slope"))
    }
  )
}
