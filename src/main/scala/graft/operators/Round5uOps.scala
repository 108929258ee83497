package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11ad): technical-indicator and
  * long-memory time-series windows over the daily purchase-revenue
  * series — MACD, ATR/Keltner channel, rolling kurtosis, the Hurst
  * exponent by rescaled-range analysis, and a trend/seasonal variance
  * decomposition.
  *
  * Determinism discipline (§2.12): the day series is exact integer
  * cents; EMA folds run in frame order over list-materialized windows
  * with exact-binary α constants (the q_time_4 pattern) and every
  * derived series re-quantizes before feeding the next fold; R/S and
  * kurtosis build from integer power sums with one final IEEE
  * expression per emitted value.
  */
object Round5uOps {

  private def daily(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "events").filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("dday"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))

  val all: Seq[Q] = Seq(

    // MACD(12, 26, 9) on daily revenue: fast EMA − slow EMA, then an
    // EMA of that difference as the signal line — the crossover
    // momentum indicator. Last 30 days.
    Q("q_win_19_macd",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS dday,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT dday, list(CAST(cents AS DOUBLE)) OVER (ORDER BY dday
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vals FROM day),
        |m AS (SELECT dday,
        |  CAST(floor((list_reduce(vals, (a, x) -> (1 - 2.0 / 13) * a + (2.0 / 13) * x)
        |   - list_reduce(vals, (a, x) -> (1 - 2.0 / 27) * a + (2.0 / 27) * x)) / 100 * 1000000 + 0.5) AS BIGINT) AS macd6
        | FROM w),
        |sig AS (SELECT dday, macd6,
        |  list(CAST(macd6 AS DOUBLE) / 1000000) OVER (ORDER BY dday
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ms FROM m),
        |f AS (SELECT dday, macd6,
        |  CAST(floor(list_reduce(ms, (a, x) -> 0.8 * a + 0.2 * x) * 10000 + 0.5) AS BIGINT) AS sig4,
        |  row_number() OVER (ORDER BY dday DESC) AS rn FROM sig)
        |SELECT CAST(dday AS BIGINT) AS day, macd6 / 1000000.0 AS macd,
        | sig4 / 10000.0 AS signal,
        | floor((macd6 / 1000000.0 - sig4 / 10000.0) * 10000 + 0.5) / 10000 AS histogram
        |FROM f WHERE rn <= 30 ORDER BY day""".stripMargin) { (s, d) =>
      graft.api.Pipelines.macd(daily(s, d), "dday", "cents", 30)
        .orderBy("day")
    },

    // ATR(7) + Keltner channel on daily purchase bars: true range
    // includes the overnight gap (|high−prevClose|, |low−prevClose|)
    // that q_win_16's Donchian range misses.
    Q("q_win_20_atr_keltner",
      """WITH r AS (SELECT epoch_us(ts) // 86400000000 AS dday,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |  row_number() OVER (PARTITION BY epoch_us(ts) // 86400000000 ORDER BY ts DESC, event_id DESC) AS rd
        | FROM events WHERE event_type = 'purchase'),
        |bar AS (SELECT dday, max(c) AS hi, min(c) AS lo,
        |  max(CASE WHEN rd = 1 THEN c END) AS cl FROM r GROUP BY 1),
        |tr AS (SELECT dday, hi, lo, cl,
        |  greatest(hi - lo, abs(hi - lag(cl) OVER (ORDER BY dday)), abs(lo - lag(cl) OVER (ORDER BY dday))) AS tr
        | FROM bar),
        |atr AS (SELECT dday, hi, lo, cl, tr,
        |  CAST(sum(tr) OVER (ORDER BY dday ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trs,
        |  CAST(count(tr) OVER (ORDER BY dday ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS k,
        |  row_number() OVER (ORDER BY dday) AS rn
        | FROM tr)
        |SELECT CAST(dday AS BIGINT) AS day,
        | floor(CAST(trs AS DOUBLE) / 7 / 100 * 100 + 0.5) / 100 AS atr,
        | floor((CAST(hi + lo + cl AS DOUBLE) / 3 + 1.5 * (CAST(trs AS DOUBLE) / 7)) / 100 * 100 + 0.5) / 100 AS keltner_hi,
        | floor((CAST(hi + lo + cl AS DOUBLE) / 3 - 1.5 * (CAST(trs AS DOUBLE) / 7)) / 100 * 100 + 0.5) / 100 AS keltner_lo
        |FROM atr WHERE rn >= 8 AND k = 7
        |ORDER BY day LIMIT 30""".stripMargin) { (s, d) =>
      // Bars are integer cents (close by (ts, event_id) — the fixture's
      // unique tie-break); TR is pure integer max/abs; the 7-bar ATR is
      // an exact integer window sum with one final /7. rn >= 8 skips
      // the first bar's NULL-lag TR window.
      val rw = Window.partitionBy("dday").orderBy(col("ts").desc, col("event_id").desc)
      val bar = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .select(expr("unix_micros(ts) div 86400000000").as("dday"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"),
          col("ts"), col("event_id"))
        .withColumn("rd", row_number().over(rw))
        .groupBy("dday")
        .agg(max("c").as("hi"), min("c").as("lo"), max(when(col("rd") === 1, col("c"))).as("cl"))
      val ow = Window.orderBy("dday")
      val tr = bar.withColumn("tr",
        greatest(col("hi") - col("lo"), abs(col("hi") - lag("cl", 1).over(ow)),
          abs(col("lo") - lag("cl", 1).over(ow))))
      val fw = Window.orderBy("dday").rowsBetween(-6, 0)
      val atr = tr
        .withColumn("trs", sum("tr").over(fw).cast("long"))
        .withColumn("k", count("tr").over(fw).cast("long"))
        .withColumn("rn", row_number().over(ow))
        .filter(col("rn") >= 8 && col("k") === 7)
      val typ = (col("hi") + col("lo") + col("cl")).cast("double") / 3
      val atrD = col("trs").cast("double") / 7
      atr.select(col("dday").cast("long").as("day"),
          round(atrD / 100, 2).as("atr"),
          round((typ + lit(1.5) * atrD) / 100, 2).as("keltner_hi"),
          round((typ - lit(1.5) * atrD) / 100, 2).as("keltner_lo"))
        .orderBy("day").limit(30)
    },

    // Rolling 14-day kurtosis of daily revenue (kilodollar grid) — the
    // tail-heaviness monitor: variance-based bands miss regimes where
    // spread is stable but spikes get spikier.
    Q("q_win_21_rolling_kurt",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS dday,
        |  CAST(floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100000.0 + 0.5) AS BIGINT) AS v
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT dday, v,
        |  CAST(count(*) OVER win AS BIGINT) AS k,
        |  CAST(sum(v) OVER win AS BIGINT) AS s1,
        |  CAST(sum(v * v) OVER win AS BIGINT) AS s2,
        |  CAST(sum(v * v * v) OVER win AS BIGINT) AS s3,
        |  CAST(sum(v * v * v * v) OVER win AS BIGINT) AS s4
        | FROM day WINDOW win AS (ORDER BY dday ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT CAST(dday AS BIGINT) AS day,
        | floor((CAST(k AS DOUBLE) * (s4 - 4.0 * s1 * s3 / k + 6.0 * s1 * s1 * s2 / (CAST(k AS DOUBLE) * k) - 3.0 * s1 * s1 * s1 * s1 / (CAST(k AS DOUBLE) * k * k))
        |  / ((s2 - CAST(s1 AS DOUBLE) * s1 / k) * (s2 - CAST(s1 AS DOUBLE) * s1 / k))) * 10000 + 0.5) / 10000 AS kurtosis
        |FROM w WHERE k = 14 ORDER BY day LIMIT 40""".stripMargin) { (s, d) =>
      // Daily revenue rounds to a kilodollar integer grid FIRST (keeps
      // v⁴ window sums far inside int64 — ~1e8·14 — while preserving
      // tail shape); the four power sums are exact integer window sums;
      // kurtosis = k·M4/M2² expanded from raw moments in ONE fixed IEEE
      // expression.
      val day = daily(s, d)
        .select(col("dday"), floor(col("cents") / 100000.0 + 0.5).cast("long").as("v"))
      val win = Window.orderBy("dday").rowsBetween(-13, 0)
      val w = day.select(col("dday"),
        count(lit(1)).over(win).as("k"),
        sum("v").over(win).as("s1"),
        sum(col("v") * col("v")).over(win).as("s2"),
        sum(col("v") * col("v") * col("v")).over(win).as("s3"),
        sum(col("v") * col("v") * col("v") * col("v")).over(win).as("s4"))
      def D(c0: String) = col(c0).cast("double")
      val m4 = col("s4") - lit(4.0) * col("s1") * col("s3") / col("k") +
        lit(6.0) * col("s1") * col("s1") * col("s2") / (D("k") * col("k")) -
        lit(3.0) * col("s1") * col("s1") * col("s1") * col("s1") / (D("k") * col("k") * col("k"))
      val m2 = col("s2") - D("s1") * col("s1") / col("k")
      w.filter(col("k") === 14)
        .select(col("dday").cast("long").as("day"),
          round(D("k") * m4 / (m2 * m2), 4).as("kurtosis"))
        .orderBy("day").limit(40)
    },

    // Hurst exponent by rescaled-range analysis at block sizes 4/8/16:
    // H ≈ 0.5 means the revenue series has no long memory; H > 0.5
    // means shocks persist (q_time_12's Ljung-Box sees short-lag
    // correlation; R/S sees the long-range kind).
    Q("q_time_15_hurst",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS dday,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y,
        |  row_number() OVER (ORDER BY epoch_us(ts) // 86400000000) AS rn
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |blk AS (SELECT w.w, (rn - 1) // w.w AS b, rn, y
        | FROM day, (SELECT unnest([4, 8, 16]) AS w) w),
        |st AS (SELECT w, b, CAST(count(*) AS BIGINT) AS k, CAST(sum(y) AS BIGINT) AS s1,
        |  CAST(sum(y * y) AS BIGINT) AS s2 FROM blk GROUP BY 1, 2),
        |cum AS (SELECT blk.w, blk.b, blk.rn,
        |  CAST(st.k * sum(blk.y) OVER (PARTITION BY blk.w, blk.b ORDER BY blk.rn) -
        |   (row_number() OVER (PARTITION BY blk.w, blk.b ORDER BY blk.rn)) * st.s1 AS BIGINT) AS c
        | FROM blk JOIN st ON blk.w = st.w AND blk.b = st.b WHERE st.k = st.w),
        |rs AS (SELECT cum.w, cum.b,
        |  CAST(floor((max(cum.c) - min(cum.c)) / sqrt(CAST(st.k AS DOUBLE) * st.s2 - CAST(st.s1 AS DOUBLE) * st.s1) * 1000000 + 0.5) AS BIGINT) AS rs6
        | FROM cum JOIN st ON cum.w = st.w AND cum.b = st.b
        | GROUP BY cum.w, cum.b, st.k, st.s1, st.s2),
        |m AS (SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(floor(CAST(sum(rs6) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mean_rs6
        | FROM rs GROUP BY 1)
        |SELECT
        | max(CASE WHEN w = 4 THEN mean_rs6 END) / 1000000.0 AS rs4,
        | max(CASE WHEN w = 8 THEN mean_rs6 END) / 1000000.0 AS rs8,
        | max(CASE WHEN w = 16 THEN mean_rs6 END) / 1000000.0 AS rs16,
        | floor((ln(max(CASE WHEN w = 16 THEN mean_rs6 END) / 1000000.0)
        |   - ln(max(CASE WHEN w = 4 THEN mean_rs6 END) / 1000000.0)) / ln(4.0) * 10000 + 0.5) / 10000 AS hurst
        |FROM m""".stripMargin) { (s, d) =>
      // Cumulative deviations stay exact integers via the k·prefix −
      // i·sum scaling (never a float cumsum); each block's R/S is ONE
      // IEEE expression over (range, s1, s2), quantized 1e-6 before the
      // cross-block mean; only complete blocks count (k = w). The Hurst
      // slope takes ln on the two quantized means — the house
      // ln-after-quantize pattern.
      val day = daily(s, d)
        .withColumn("rn", row_number().over(Window.orderBy("dday")))
        .select(col("rn"), col("cents").as("y"))
        .localCheckpoint()
      val ws = s.createDataFrame(Seq(Tuple1(4L), Tuple1(8L), Tuple1(16L))).toDF("w")
      val blk = day.crossJoin(broadcast(ws))
        .select(col("w"), ((col("rn") - 1) / col("w")).cast("long").as("b"), col("rn"), col("y"))
      val st = blk.groupBy(col("w").as("sw"), col("b").as("sb"))
        .agg(count(lit(1)).as("k"), sum("y").as("s1"), sum(col("y") * col("y")).as("s2"))
        .filter(col("k") === col("sw"))
      val bw = Window.partitionBy("w", "b").orderBy("rn")
      val cum = blk.join(broadcast(st), col("w") === col("sw") && col("b") === col("sb"))
        .withColumn("c",
          (col("k") * sum("y").over(bw) - row_number().over(bw) * col("s1")).cast("long"))
      def D(c0: String) = col(c0).cast("double")
      val rs = cum.groupBy(col("w"), col("b"), col("k"), col("s1"), col("s2"))
        .agg(max("c").as("mx"), min("c").as("mn"))
        .select(col("w"),
          floor((col("mx") - col("mn"))
            / sqrt(D("k") * col("s2") - D("s1") * col("s1")) * 1000000 + 0.5)
            .cast("long").as("rs6"))
      val m = rs.groupBy("w")
        .agg(floor(sum("rs6").cast("double") / count(lit(1)) + 0.5).cast("long").as("mean_rs6"))
      m.agg(
        (max(when(col("w") === 4, col("mean_rs6"))) / 1000000.0).as("rs4"),
        (max(when(col("w") === 8, col("mean_rs6"))) / 1000000.0).as("rs8"),
        (max(when(col("w") === 16, col("mean_rs6"))) / 1000000.0).as("rs16"),
        round((log(max(when(col("w") === 16, col("mean_rs6"))) / 1000000.0)
          - log(max(when(col("w") === 4, col("mean_rs6"))) / 1000000.0)) / log(lit(4.0)), 4)
          .as("hurst"))
    },

    // Trend/seasonal variance decomposition: share of daily-revenue
    // variance explained by the centered 7-day trend and by the
    // weekday-seasonal component — ONE number per component (q_time_6
    // fits the weekday profile; this says how much it matters).
    Q("q_time_16_decomp",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS dday,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |tr AS (SELECT dday, y,
        |  CAST(sum(y) OVER win AS BIGINT) AS ts7, CAST(count(*) OVER win AS BIGINT) AS k7,
        |  dday % 7 AS wd
        | FROM day WINDOW win AS (ORDER BY dday ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT dday, y, wd, CAST(7 * y - ts7 AS BIGINT) AS d7 FROM tr WHERE k7 = 7),
        |sea AS (SELECT wd, CAST(count(*) AS BIGINT) AS n, CAST(sum(d7) AS BIGINT) AS s FROM f GROUP BY 1),
        |sc AS (SELECT f.dday, f.y, f.d7,
        |  CAST(floor(CAST(sea.s AS DOUBLE) / sea.n + 0.5) AS BIGINT) AS s7 FROM f JOIN sea ON f.wd = sea.wd),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(y * y) AS BIGINT) AS syy,
        |  CAST(sum(d7 * d7) AS BIGINT) AS sdd,
        |  CAST(sum((d7 - s7) * (d7 - s7)) AS BIGINT) AS srr
        | FROM sc)
        |SELECT
        | floor((1 - (CAST(sdd AS DOUBLE) / 49) / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)) * 1000000 + 0.5) / 1000000 AS trend_share,
        | floor(((CAST(sdd AS DOUBLE) - srr) / 49 / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)) * 1000000 + 0.5) / 1000000 AS seasonal_share,
        | floor((CAST(srr AS DOUBLE) / 49 / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)) * 1000000 + 0.5) / 1000000 AS remainder_share
        |FROM tot""".stripMargin) { (s, d) =>
      // Detrended values stay exact via the 7y − Σwin scaling (d7 = 7×
      // the real deviation); the weekday seasonal index rounds to the
      // same ×7 integer grid before subtraction, so SST/SSD/SSR are all
      // exact integer sums and the three shares are single IEEE ratios.
      // Complete 7-day windows only (k7 = 7).
      val win = Window.orderBy("dday").rowsBetween(-3, 3)
      val tr = daily(s, d).withColumnRenamed("cents", "y")
        .select(col("dday"), col("y"),
          sum("y").over(win).as("ts7"), count(lit(1)).over(win).as("k7"),
          (col("dday") % 7).as("wd"))
      val f = tr.filter(col("k7") === 7)
        .select(col("dday"), col("y"), col("wd"), (lit(7) * col("y") - col("ts7")).as("d7"))
        .localCheckpoint()
      val sea = f.groupBy(col("wd").as("sw")).agg(count(lit(1)).as("n"), sum("d7").as("s"))
      val sc = f.join(broadcast(sea), col("wd") === col("sw"))
        .select(col("y"), col("d7"),
          floor(col("s").cast("double") / col("n") + 0.5).cast("long").as("s7"))
      def D(c0: String) = col(c0).cast("double")
      val tot = sc.agg(count(lit(1)).as("n"), sum("y").as("sy"),
        sum(col("y") * col("y")).as("syy"), sum(col("d7") * col("d7")).as("sdd"),
        sum((col("d7") - col("s7")) * (col("d7") - col("s7"))).as("srr"))
      val sst = D("syy") - D("sy") * col("sy") / col("n")
      tot.select(
        round(lit(1) - (D("sdd") / 49) / sst, 6).as("trend_share"),
        round((D("sdd") - col("srr")) / 49 / sst, 6).as("seasonal_share"),
        round(D("srr") / 49 / sst, 6).as("remainder_share"))
    }
  )
}
