package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bf): event/time/window additions —
  * branching entropy of the event-transition graph, the Fano
  * overdispersion factor, weekend rate lift, year-over-year monthly
  * growth, the ulcer index, and monthly VWAP vs unit-price mean.
  *
  * Determinism discipline (§2.12): all counts/cents/durations are exact
  * integers; per-row floats quantize to integers before any cross-row
  * sum (drawdowns at 1e-8, unit prices at cents); entropy uses the
  * shared ln form; every emitted ratio quantizes at a declared scale.
  */
object Round7fOps {

  private val DAY_US = 86400000000L

  val all: Seq[Q] = Seq(

    // Branching entropy: for each event type, the Shannon entropy of
    // WHICH event follows it (within a user's stream) plus the top
    // branch's share — q_stream_13 counts the transition matrix; this
    // is the per-row uncertainty scalar that says which states are
    // decision points and which are corridors.
    Q("q_stream_37_branching",
      """WITH t AS (SELECT event_type AS cur,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        | FROM events),
        |c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n FROM t
        | WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT cur, CAST(sum(n) AS BIGINT) AS tot, CAST(max(n) AS BIGINT) AS top,
        |  CAST(sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS DOUBLE) AS snl
        | FROM c GROUP BY 1)
        |SELECT cur AS event_type, tot AS n_transitions,
        | floor((ln(CAST(tot AS DOUBLE)) - snl / tot) / ln(2.0) * 1000000 + 0.5) / 1000000 AS branch_entropy_bits,
        | floor(CAST(top AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS top_branch_share
        |FROM a ORDER BY cur""".stripMargin) { (s, d) =>
      // One lead window (user-partitioned), a |types|²-bounded count
      // table, and the exact-count entropy fold — same shape as
      // q_stream_13 plus one scalar layer.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, d, "events")
        .select(col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
        .groupBy("cur")
        .agg(sum("n").as("tot"), max("n").as("top"),
          sum(col("n").cast("double") * log(col("n").cast("double"))).as("snl"))
        .select(col("cur").as("event_type"), col("tot").as("n_transitions"),
          Num.round((log(col("tot").cast("double")) - col("snl") / col("tot"))
            / log(lit(2.0)), 6).as("branch_entropy_bits"),
          Num.round(col("top").cast("double") / col("tot"), 6).as("top_branch_share"))
        .orderBy("event_type")
    },

    // Fano factor of hourly arrivals per event type: variance/mean of
    // the per-hour count series. 1 = Poisson; ≫1 = bursty clustering —
    // the dispersion SCALAR behind q_stream_15's burst-minute listing,
    // computed entirely from exact integer moments.
    Q("q_stream_38_fano",
      """WITH h AS (SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_id,
        |  CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS scc
        | FROM h GROUP BY 1)
        |SELECT event_type, m AS n_hours, sc AS n_events,
        | floor((CAST(m AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)
        |   / (CAST(m AS DOUBLE) * sc) * 1000000 + 0.5) / 1000000 AS fano
        |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
      // Hourly buckets; hours with zero events are excluded on both
      // engines (declared semantics).
      graft.api.Pipelines.fanoFactor(Tables(s, d, "events"), "event_type",
          expr("unix_micros(ts) div 3600000000").as("hour_id"))
        .withColumnRenamed("n_buckets", "n_hours")
        .orderBy("event_type")
    },

    // Weekend rate lift per event type: events/day on weekend days vs
    // weekday days (calendar from the epoch-day arithmetic both
    // engines share — (day+4)%7 with 0=Sunday). The activity-mix
    // seasonality readout q_time_21 gives for ORDERS, on the stream.
    Q("q_stream_39_weekend_lift",
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CASE WHEN (epoch_us(ts) // 86400000000 + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS we
        | FROM events),
        |days AS (SELECT CAST(count(DISTINCT CASE WHEN we = 1 THEN day END) AS BIGINT) AS d_we,
        |  CAST(count(DISTINCT CASE WHEN we = 0 THEN day END) AS BIGINT) AS d_wd FROM e),
        |c AS (SELECT event_type,
        |  CAST(sum(we) AS BIGINT) AS n_we,
        |  CAST(sum(1 - we) AS BIGINT) AS n_wd
        | FROM e GROUP BY 1)
        |SELECT event_type, n_we, n_wd,
        | floor(CAST(n_we AS DOUBLE) / d_we * 10000 + 0.5) / 10000 AS weekend_rate,
        | floor(CAST(n_wd AS DOUBLE) / d_wd * 10000 + 0.5) / 10000 AS weekday_rate,
        | floor((CAST(n_we AS DOUBLE) / d_we) / (CAST(n_wd AS DOUBLE) / d_wd)
        |   * 1000000 + 0.5) / 1000000 AS lift
        |FROM c, days ORDER BY event_type""".stripMargin) { (s, d) =>
      val e = Tables(s, d, "events")
        .select(col("event_type"),
          expr(s"unix_micros(ts) div $DAY_US").as("day"))
        .withColumn("we",
          when((col("day") + 4) % 7 === 0 || (col("day") + 4) % 7 === 6, 1L)
            .otherwise(0L))
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
    },

    // Year-over-year monthly revenue growth: each month joined to the
    // SAME month one year earlier (calendar join, not a 12-row lag —
    // robust to missing months). The seasonality-free growth series
    // that q_dq_26's week-over-week can't give.
    Q("q_time_23_yoy",
      """WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1)
        |SELECT a.ym,
        | floor(CAST(a.cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS revenue,
        | floor(CAST(b.cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS prev_revenue,
        | floor((CAST(a.cents AS DOUBLE) - b.cents) / b.cents * 1000000 + 0.5) / 1000000 AS yoy_growth
        |FROM m a JOIN m b ON a.ym = b.ym + 100
        |ORDER BY a.ym""".stripMargin) { (s, d) =>
      val m = Tables(s, d, "orders")
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.yoyGrowth(m, "ym", "cents")
        .orderBy("ym")
    },

    // Ulcer index per year: RMS drawdown depth of the daily revenue
    // series against its running peak — penalizes DEEP-AND-LONG
    // slumps where q_win_13's max-drawdown only sees the deepest
    // instant. Per-day depths quantize 1e-8 before the RMS fold.
    Q("q_win_28_ulcer",
      """WITH dly AS (SELECT year(o_orderdate) AS y,
        |  datediff('day', DATE '1970-01-01', o_orderdate) AS day,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |pk AS (SELECT y, day, cents,
        |  max(cents) OVER (PARTITION BY y ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM dly),
        |dd AS (SELECT y,
        |  CAST(floor(CAST(peak - cents AS DOUBLE) / peak * 100000000 + 0.5) AS BIGINT) AS d8
        | FROM pk)
        |SELECT CAST(y AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS n_days,
        | floor(sqrt(CAST(sum(d8 * d8) AS DOUBLE) / 10000000000000000 / count(*)) * 100
        |   * 10000 + 0.5) / 10000 AS ulcer_pct,
        | floor(CAST(max(d8) AS DOUBLE) / 100000000 * 100 * 10000 + 0.5) / 10000 AS max_dd_pct
        |FROM dd GROUP BY 1 ORDER BY y""".stripMargin) { (s, d) =>
      // Daily cents, per-year running peak.
      val dly = Tables(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.ulcerIndex(dly, "y", "day", "cents")
        .withColumnRenamed("n_rows", "n_days")
        .orderBy("y")
    },

    // Monthly VWAP vs mean unit price: quantity-weighted average unit
    // price against the unweighted per-line mean — a persistent ratio
    // below 1 means big orders get systematically better unit prices
    // (the volume-discount readout; q_time_9's TWAP weights by TIME,
    // this weights by QUANTITY).
    Q("q_win_29_vwap",
      """WITH l AS (SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
        |  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        |  CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT) AS unit_c
        | FROM lineitem),
        |g AS (SELECT ym, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(qty) AS BIGINT) AS total_qty,
        |  CAST(sum(cents) AS BIGINT) AS sc, CAST(sum(unit_c) AS BIGINT) AS su
        | FROM l GROUP BY 1)
        |SELECT ym, n_lines, total_qty,
        | floor(CAST(sc AS DOUBLE) / total_qty / 100 * 10000 + 0.5) / 10000 AS vwap,
        | floor(CAST(su AS DOUBLE) / n_lines / 100 * 10000 + 0.5) / 10000 AS mean_unit_price,
        | floor((CAST(sc AS DOUBLE) / total_qty) / (CAST(su AS DOUBLE) / n_lines)
        |   * 1000000 + 0.5) / 1000000 AS vwap_ratio
        |FROM g ORDER BY ym""".stripMargin) { (s, d) =>
      // Per-line unit price quantizes to cents BEFORE the mean (the
      // only per-row float); VWAP itself is a pure exact-cents /
      // exact-quantity ratio. One scan, |months|-row aggregate.
      Tables(s, d, "lineitem")
        .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long").as("ym"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") / col("l_quantity") * 100 + 0.5)
            .cast("long").as("unit_c"))
        .groupBy("ym")
        .agg(count(lit(1)).as("n_lines"), sum("qty").as("total_qty"),
          sum("cents").as("sc"), sum("unit_c").as("su"))
        .select(col("ym"), col("n_lines"), col("total_qty"),
          Num.round(col("sc").cast("double") / col("total_qty") / 100, 4).as("vwap"),
          Num.round(col("su").cast("double") / col("n_lines") / 100, 4)
            .as("mean_unit_price"),
          Num.round((col("sc").cast("double") / col("total_qty"))
            / (col("su").cast("double") / col("n_lines")), 6).as("vwap_ratio"))
        .orderBy("ym")
    }
  )
}
