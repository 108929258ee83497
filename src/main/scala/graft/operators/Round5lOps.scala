package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 continuation (SURVEY §2.11u): paired sign tests, multi-
  * ranking concordance, ANN index balance auditing, harmonic seasonal
  * fits, lift/gains charts, forecast baselines, and rolling skewness.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-term transcendentals floor-quantized to integers BEFORE cross-row
  * sums; products that can outgrow int64 ride DECIMAL(38,0)/HUGEINT; one
  * fixed-shape IEEE expression per emitted float, mirrored verbatim in
  * DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5lOps {

  val all: Seq[Q] = Seq(

    Q("q_stat_23_sign_test",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS p,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN p > c THEN 1 ELSE 0 END) AS BIGINT) AS wins,
        |  CAST(sum(CASE WHEN p = c THEN 1 ELSE 0 END) AS BIGINT) AS ties FROM d)
        |SELECT n AS n_days, wins AS n_purchase_higher, ties AS n_ties,
        | floor((CAST(wins AS DOUBLE) - CAST(n - ties AS DOUBLE) / 2) / sqrt(CAST(n - ties AS DOUBLE) / 4) * 1000000 + 0.5) / 1000000 AS sign_z
        |FROM g""".stripMargin) { (s, d) =>
      // Paired sign test: on how many days does purchase revenue beat
      // click revenue, and is that majority significant (normal
      // approximation to Binomial(n−ties, ½))? The median-of-DIFFERENCES
      // complement of q_stat_8's mean test and q_stat_4's rank test —
      // the sign test is the only one valid under arbitrary per-day
      // scale changes (it reads ONLY the comparison bit, so promo-day
      // inflation can't dominate). Both daily sums are exact cents;
      // ties drop from the denominator (classical, stated); z is one
      // IEEE expression. Scale: day-collapsed map-side agg, one row.
      val dd = Tables(s, d, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("p"),
          sum(when(col("event_type") === "click",
            floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L)).as("c"))
      val g = dd.agg(count(lit(1)).as("n"),
        sum(when(col("p") > col("c"), 1).otherwise(0)).cast("long").as("wins"),
        sum(when(col("p") === col("c"), 1).otherwise(0)).cast("long").as("ties"))
      val m = (col("n") - col("ties")).cast("double")
      g.select(col("n").as("n_days"), col("wins").as("n_purchase_higher"),
        col("ties").as("n_ties"),
        round((col("wins").cast("double") - m / 2) / sqrt(m / 4), 6).as("sign_z"))
    },

    Q("q_ret_8_kendall_w",
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
        | FROM events GROUP BY 1),
        |r AS (SELECT user_id,
        |  CAST(row_number() OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS r1,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS r2,
        |  CAST(row_number() OVER (ORDER BY np DESC, user_id) AS BIGINT) AS r3 FROM u),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS ssq,
        |  CAST(sum(r1 + r2 + r3) AS BIGINT) AS s FROM r)
        |SELECT n AS n_users,
        | floor((12.0 * (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * s / n)) / (9.0 * (CAST(n AS DOUBLE) * n * n - n)) * 1000000 + 0.5) / 1000000 AS kendall_w
        |FROM g""".stripMargin) { (s, d) =>
      // Kendall's W concordance across THREE user rankings (by total
      // value, by event count, by purchase count): W = 12·S/(m²(n³−n))
      // with m=3 judges — do the candidate "importance" orderings agree
      // at all (W→1) or is each metric telling its own story (W→1/m)?
      // The m-ranking generalization of q_stat_10's pairwise tau and
      // q_ret_7's pairwise top-k overlap. Ranks are deterministic
      // (metric DESC, user_id); rank-sum squares are exact BIGINTs; W
      // is one IEEE closed form. Scale: the user table scales with the
      // event stream, so each ranking is the range-partitioned
      // exactGlobalRank (P-row histogram + local row numbers), NOT a
      // single-partition window — three chained rank passes, then a
      // 2-number reduction.
      val u = Tables(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("np"))
      val r = Seq(
        (Seq(col("cents").desc, col("user_id")), "r1"),
        (Seq(col("cnt").desc, col("user_id")), "r2"),
        (Seq(col("np").desc, col("user_id")), "r3"))
        .foldLeft(u) { case (df0, (ord, rc)) =>
          graft.api.Pipelines.exactGlobalRank(df0, ord, rc)._2
        }
        .select(col("user_id"), col("r1"), col("r2"), col("r3"))
      val rs = col("r1") + col("r2") + col("r3")
      val g = r.agg(count(lit(1)).as("n"), sum(rs * rs).cast("long").as("ssq"),
        sum(rs).cast("long").as("s"))
      val nD = col("n").cast("double")
      g.select(col("n").as("n_users"),
        round(lit(12.0) * (col("ssq").cast("double") - col("s").cast("double") * col("s") / col("n"))
          / (lit(9.0) * (nD * nD * nD - nD)), 6).as("kendall_w"))
    },

    Q("q_sim_24_ivf_balance",
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |assign AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${VectorFunctions.Duck.sqDist("e.embedding", "c.cvec")}, c.cid) AS rn
         |  FROM embeddings e, cents c) WHERE rn = 1),
         |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM assign GROUP BY 1),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(n) AS BIGINT) AS tot,
         |  CAST(max(n) AS BIGINT) AS mx, CAST(min(n) AS BIGINT) AS mn FROM sz)
         |SELECT n_cells, tot AS n_vectors, mn AS min_cell, mx AS max_cell,
         | floor(CAST(mx AS DOUBLE) / (CAST(tot AS DOUBLE) / n_cells) * 10000 + 0.5) / 10000 AS imbalance
         |FROM g""".stripMargin) { (s, d) =>
      // IVF index balance audit: cell-size min/max and the imbalance
      // factor (max cell vs the ideal even split) over q_sim_4's
      // 8-centroid coarse quantizer — the operational ANN health number
      // (a hot cell IS the query-latency tail, the exact analogue of
      // q_dq_15's partition-key skew but for vector search; imbalance
      // drives re-training or cell splitting). Assignment is the same
      // zero-shuffle native argmin_sqdist projection over the broadcast
      // packed-centroid row as q_sim_4; cell sizes are one map-side
      // agg. Scale: no corpus shuffle anywhere — cell id is a
      // projection, the histogram is 8 rows.
      graft.expressions.VectorExpressions.register(s)
      val e = Tables(s, d, "embeddings")
      val packed = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cs"))
        .select(transform(col("cs"), _.getField("cid")).as("cids"),
          transform(col("cs"), _.getField("cvec")).as("cvecs"))
      val withCell = e.crossJoin(broadcast(packed))
        .select(col("vec_id"),
          element_at(col("cids"), expr("argmin_sqdist(embedding, cvecs)") + 1).as("cid"))
      val sz = withCell.groupBy("cid").agg(count(lit(1)).as("n"))
      val g = sz.agg(count(lit(1)).as("n_cells"), sum("n").as("tot"),
        max("n").as("mx"), min("n").as("mn"))
      g.select(col("n_cells"), col("tot").as("n_vectors"),
        col("mn").as("min_cell"), col("mx").as("max_cell"),
        round(col("mx").cast("double") / (col("tot").cast("double") / col("n_cells")), 4)
          .as("imbalance"))
    },

    Q("q_time_13_harmonic",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS x
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT day, x,
        |  CAST(floor(cos(2 * pi() * (day % 7) / 7) * 1000000000 + 0.5) AS BIGINT) AS c9,
        |  CAST(floor(sin(2 * pi() * (day % 7) / 7) * 1000000000 + 0.5) AS BIGINT) AS s9 FROM d),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(c9) AS BIGINT) AS sc, CAST(sum(s9) AS BIGINT) AS ss,
        |  CAST(sum(x * c9) AS BIGINT) AS sxc, CAST(sum(x * s9) AS BIGINT) AS sxs FROM b)
        |SELECT n AS n_days,
        | floor(CAST(sx AS DOUBLE) / n * 100 + 0.5) / 100 AS mean_level,
        | floor(2 * (CAST(sxc AS DOUBLE) - CAST(sx AS DOUBLE) * sc / n) / n / 1000000000 * 10000 + 0.5) / 10000 AS a_cos,
        | floor(2 * (CAST(sxs AS DOUBLE) - CAST(sx AS DOUBLE) * ss / n) / n / 1000000000 * 10000 + 0.5) / 10000 AS b_sin,
        | floor(sqrt((2 * (CAST(sxc AS DOUBLE) - CAST(sx AS DOUBLE) * sc / n) / n / 1000000000) * (2 * (CAST(sxc AS DOUBLE) - CAST(sx AS DOUBLE) * sc / n) / n / 1000000000)
        |  + (2 * (CAST(sxs AS DOUBLE) - CAST(sx AS DOUBLE) * ss / n) / n / 1000000000) * (2 * (CAST(sxs AS DOUBLE) - CAST(sx AS DOUBLE) * ss / n) / n / 1000000000)) * 10000 + 0.5) / 10000 AS amplitude,
        | floor(atan2(2 * (CAST(sxs AS DOUBLE) - CAST(sx AS DOUBLE) * ss / n) / n / 1000000000,
        |  2 * (CAST(sxc AS DOUBLE) - CAST(sx AS DOUBLE) * sc / n) / n / 1000000000) * 10000 + 0.5) / 10000 AS phase
        |FROM g""".stripMargin) { (s, d) =>
      // First-harmonic weekly fit of the daily purchase series:
      // x(t) ≈ mean + a·cos(2πt/7) + b·sin(2πt/7) via the Fourier
      // projections a = (2/n)Σ(x−x̄)cos, b = (2/n)Σ(x−x̄)sin, with
      // amplitude and phase — the PARAMETRIC weekly-cycle readout
      // (q_time_6's ANOVA detects dow structure; this says its size
      // and where in the week it peaks; q_time_11's grid is the
      // non-parametric view). Basis values are floor-quantized to
      // 1e-9 per day BEFORE the x·basis products, so all five
      // sufficient statistics are exact BIGINTs (near-orthogonality of
      // the day-balanced basis makes the projections the OLS fit,
      // stated); amplitude/phase are fixed IEEE expressions (atan2 is
      // IEEE-defined on both engines). Scale: day table only.
      val dd = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"))
      val b = dd.select(col("day"), col("x"),
        floor(cos(lit(2) * lit(math.Pi) * (col("day") % 7) / 7) * 1000000000L + 0.5)
          .cast("long").as("c9"),
        floor(sin(lit(2) * lit(math.Pi) * (col("day") % 7) / 7) * 1000000000L + 0.5)
          .cast("long").as("s9"))
      val g = b.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("c9").as("sc"), sum("s9").as("ss"),
        sum(col("x") * col("c9")).as("sxc"), sum(col("x") * col("s9")).as("sxs"))
      val nD = col("n").cast("double")
      val a = lit(2) * (col("sxc").cast("double") - col("sx").cast("double") * col("sc") / col("n")) / nD / 1000000000L
      val bb = lit(2) * (col("sxs").cast("double") - col("sx").cast("double") * col("ss") / col("n")) / nD / 1000000000L
      g.select(col("n").as("n_days"),
        round(col("sx").cast("double") / col("n"), 2).as("mean_level"),
        round(a, 4).as("a_cos"),
        round(bb, 4).as("b_sin"),
        round(sqrt(a * a + bb * bb), 4).as("amplitude"),
        round(atan2(bb, a), 4).as("phase"))
    },

    Q("q_ml_6_lift_chart",
      """WITH e AS (SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events),
        |b AS (SELECT cents, pos, CAST(ntile(10) OVER (ORDER BY cents DESC, event_id) AS BIGINT) AS bucket FROM e),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS k FROM b GROUP BY 1),
        |c AS (SELECT bucket, n, k,
        |  CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
        |  CAST(sum(k) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ck,
        |  CAST(sum(n) OVER () AS BIGINT) AS tn, CAST(sum(k) OVER () AS BIGINT) AS tk FROM g)
        |SELECT bucket, n, k,
        | floor(CAST(ck AS DOUBLE) / tk * 1000000 + 0.5) / 1000000 AS cum_capture,
        | floor(CAST(cn AS DOUBLE) / tn * 1000000 + 0.5) / 1000000 AS cum_population,
        | floor((CAST(ck AS DOUBLE) / tk) / (CAST(cn AS DOUBLE) / tn) * 10000 + 0.5) / 10000 AS cum_lift
        |FROM c ORDER BY bucket""".stripMargin) { (s, d) =>
      // Cumulative gains / lift chart: score deciles ranked BEST-first
      // (bucket 1 = top scores); per depth, the share of all positives
      // captured vs the share of population contacted, and their ratio
      // (lift) — the campaign-targeting readout that prices "how deep
      // do we dial" (q_ret_5's AUC summarizes this curve's area; the
      // curve itself is what budget decisions read). Deciles are the
      // deterministic ntile over (cents DESC, event_id); capture and
      // lift come from exact BIGINT prefix sums over the 10-row bucket
      // table. Scale: the decile assignment is ntileOfRank over the
      // range-partitioned exactGlobalRank (events-scaled input; a
      // builtin ntile would funnel the fact through one task), then
      // 10-row windows.
      val e = Tables(s, d, "events").select(col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
      val (nE, rkd) = graft.api.Pipelines.exactGlobalRank(
        e, Seq(col("cents").desc, col("event_id")), "__rk")
      val b = rkd.select(col("cents"), col("pos"),
        graft.api.Pipelines.ntileOfRank(col("__rk"), lit(nE), 10).cast("long").as("bucket"))
      val g = b.groupBy("bucket").agg(count(lit(1)).as("n"), sum("pos").cast("long").as("k"))
      val prefix = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
      val all = Window.partitionBy()
      val c = g.withColumn("cn", sum("n").over(prefix)).withColumn("ck", sum("k").over(prefix))
        .withColumn("tn", sum("n").over(all)).withColumn("tk", sum("k").over(all))
      c.select(col("bucket"), col("n"), col("k"),
          round(col("ck").cast("double") / col("tk"), 6).as("cum_capture"),
          round(col("cn").cast("double") / col("tn"), 6).as("cum_population"),
          round((col("ck").cast("double") / col("tk")) / (col("cn").cast("double") / col("tn")), 4)
            .as("cum_lift"))
        .orderBy("bucket")
    },

    Q("q_stream_25_forecast_baseline",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |l AS (SELECT day, cents,
        |  lag(cents, 1) OVER (ORDER BY day) AS p1,
        |  lag(cents, 7) OVER (ORDER BY day) AS p7 FROM d),
        |e AS (SELECT day, abs(cents - p1) AS e1, abs(cents - p7) AS e7 FROM l
        | WHERE p1 IS NOT NULL AND p7 IS NOT NULL),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(e1) AS BIGINT) AS s1, CAST(sum(e7) AS BIGINT) AS s7 FROM e)
        |SELECT n AS n_days,
        | floor(CAST(s1 AS DOUBLE) / n / 100 * 100 + 0.5) / 100 AS mae_naive,
        | floor(CAST(s7 AS DOUBLE) / n / 100 * 100 + 0.5) / 100 AS mae_seasonal,
        | floor(CAST(s7 AS DOUBLE) / s1 * 1000000 + 0.5) / 1000000 AS seasonal_vs_naive,
        | CAST(CASE WHEN s7 < s1 THEN 1 ELSE 0 END AS BIGINT) AS seasonal_wins
        |FROM g""".stripMargin) { (s, d) =>
      // Forecast-baseline benchmark: MAE of the naive (yesterday) vs
      // seasonal-naive (same day last week) one-step forecasts of daily
      // purchase revenue, their ratio, and which wins — the FIRST
      // question of any forecasting project ("is there exploitable
      // weekly structure", and the denominator every fancier model's
      // MASE is scored against; q_time_13 fits the cycle this decides
      // is worth fitting). Both error sums are exact BIGINT cents over
      // the same comparable-day window (both lags defined, stated);
      // the winner flag is an exact integer compare. Scale: day-table
      // lag windows, one-row result.
      val dd = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val w = Window.orderBy("day")
      val l = dd.withColumn("p1", lag("cents", 1).over(w))
        .withColumn("p7", lag("cents", 7).over(w))
        .filter(col("p1").isNotNull && col("p7").isNotNull)
      val g = l.agg(count(lit(1)).as("n"),
        sum(abs(col("cents") - col("p1"))).cast("long").as("s1"),
        sum(abs(col("cents") - col("p7"))).cast("long").as("s7"))
      g.select(col("n").as("n_days"),
        round(col("s1").cast("double") / col("n") / 100, 2).as("mae_naive"),
        round(col("s7").cast("double") / col("n") / 100, 2).as("mae_seasonal"),
        round(col("s7").cast("double") / col("s1"), 6).as("seasonal_vs_naive"),
        when(col("s7") < col("s1"), 1L).otherwise(0L).as("seasonal_wins"))
    },

    Q("q_win_17_rolling_skew",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) // 100 AS BIGINT) AS x
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT day, x, CAST(count(*) OVER win AS BIGINT) AS k,
        |  CAST(sum(x) OVER win AS BIGINT) AS s1, CAST(sum(x * x) OVER win AS BIGINT) AS s2,
        |  CAST(sum(x * x * x) OVER win AS BIGINT) AS s3
        | FROM d WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT CAST(day AS BIGINT) AS day, x AS daily_dollars,
        | floor((CAST(s3 AS DOUBLE) / k - 3 * (CAST(s1 AS DOUBLE) / k) * (CAST(s2 AS DOUBLE) / k) + 2 * (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k))
        |  / pow((CAST(s2 AS DOUBLE) / k - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k)), 1.5) * 1000000 + 0.5) / 1000000 AS rolling_skew
        |FROM w WHERE k = 7 ORDER BY day""".stripMargin) { (s, d) =>
      // 7-day rolling skewness of daily purchase revenue (population
      // m₃/m₂^1.5 via raw-moment identities) — the asymmetry member of
      // the rolling-envelope family (q_win_12 variance, q_win_14
      // momentum, q_win_16 range): a skew sign flip inside the window
      // is the "one promo day is carrying the week" signal a mean
      // band can't show. Daily values are floor-quantized to WHOLE
      // DOLLARS first so Σx³ stays far inside int64 (4e4³·7 ≈ 4.5e14;
      // cents³ would overflow, stated); the three rolling raw moments
      // are exact BIGINT window sums and the skew is one IEEE
      // expression. Scale: day-table ROWS windows.
      val dd = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(expr("CAST(sum(CAST(floor(value * 100 + 0.5) AS LONG)) div 100 AS LONG)").as("x"))
      val win = Window.orderBy("day").rowsBetween(-6, 0)
      val w = dd.select(col("day"), col("x"),
        count(lit(1)).over(win).as("k"),
        sum("x").over(win).as("s1"),
        sum(col("x") * col("x")).over(win).as("s2"),
        sum(col("x") * col("x") * col("x")).over(win).as("s3"))
      val m1 = col("s1").cast("double") / col("k")
      val m2 = col("s2").cast("double") / col("k")
      val m3 = col("s3").cast("double") / col("k")
      w.filter(col("k") === 7)
        .select(col("day").cast("long").as("day"), col("x").as("daily_dollars"),
          round((m3 - lit(3) * m1 * m2 + lit(2) * m1 * m1 * m1)
            / pow(m2 - m1 * m1, 1.5), 6).as("rolling_skew"))
        .orderBy("day")
    }
  )
}
