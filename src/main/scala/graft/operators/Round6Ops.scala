package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 additions (SURVEY §2.11aq): core engine family extensions —
  * bitmap exact-distinct, Durbin–Watson autocorrelation, the stochastic
  * oscillator, parquet aggregate pushdown, dynamic partition pruning,
  * weekday seasonality, generator-shaped path expansion, and
  * month-over-month set similarity.
  *
  * Determinism discipline (§2.12): every emitted float is a quantized
  * (floor(x·10ⁿ+0.5)/10ⁿ) function of exact integer sufficient
  * statistics; rankings order on exact integers with id tie-breaks.
  */
object Round6Ops {

  /** q_scan_22's per-(session, dataset) partitioned-fixture cache path.
    * Keyed on BOTH the applicationId and a digest of the dataset dir: a
    * session that evaluates the query against two different sf dirs must
    * not silently reuse the first dir's materialization.
    */
  def dppCachePath(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dKey = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_dpp_${s.sparkContext.applicationId}_$dKey"
  }

  val all: Seq[Q] = Seq(

    // Exact distinct via fixed-width bitmaps: suppliers per returnflag
    // counted two ways — bit_or of 63-bit words keyed by suppkey/63
    // (then popcount-summed) vs plain count(DISTINCT). The bitmap path
    // is the bounded-integer-domain trick: per-group state is
    // |domain|/63 words regardless of row count, fully map-side
    // combinable — the roaring-bitmap idea in pure relational algebra
    // (count DISTINCT must shuffle every distinct value; the bitmap
    // shuffles fixed-size words).
    Q("q_agg_42_bitmap_distinct",
      """WITH w AS (SELECT l_returnflag, l_suppkey // 63 AS wd,
        |  bit_or(CAST(1 AS BIGINT) << CAST(l_suppkey % 63 AS INTEGER)) AS bits
        | FROM lineitem GROUP BY 1, 2),
        |b AS (SELECT l_returnflag, CAST(sum(bit_count(bits)) AS BIGINT) AS n_bitmap
        | FROM w GROUP BY 1),
        |x AS (SELECT l_returnflag, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_exact
        | FROM lineitem GROUP BY 1)
        |SELECT b.l_returnflag, n_bitmap, n_exact,
        | CAST(CASE WHEN n_bitmap = n_exact THEN 1 ELSE 0 END AS BIGINT) AS agree
        |FROM b JOIN x ON b.l_returnflag = x.l_returnflag
        |ORDER BY b.l_returnflag""".stripMargin) { (s, d) =>
      // The exact count(DISTINCT) branch is the cross-check that the
      // bitmap algebra is lossless; both partial-aggregate map-side.
      val li = Tables(s, d, "lineitem")
      val b = graft.api.Pipelines.bitmapDistinct(li, "l_returnflag", "l_suppkey")
        .withColumnRenamed("n_distinct", "n_bitmap")
      val x = li.groupBy("l_returnflag")
        .agg(countDistinct("l_suppkey").as("n_exact"))
      b.join(x, "l_returnflag")
        .select(col("l_returnflag"), col("n_bitmap"), col("n_exact"),
          when(col("n_bitmap") === col("n_exact"), 1L).otherwise(0L).as("agree"))
        .orderBy("l_returnflag")
    },

    // Durbin–Watson autocorrelation test on the residuals of the daily
    // order-count trend: DW ≈ 2 means independent residuals, << 2 means
    // positive autocorrelation (the OLS t-stats of q_stat_21 are then
    // overconfident — this is the check that guards them).
    Q("q_stat_31_durbin_watson",
      """WITH dly AS (SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS x,
        |  CAST(count(*) AS BIGINT) AS y FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(x * y) AS BIGINT) AS sxy FROM dly),
        |ab AS (SELECT k, sx, sy,
        |  (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b FROM m),
        |ab2 AS (SELECT k, b,
        |  CAST(sy AS DOUBLE) / k - b * (CAST(sx AS DOUBLE) / k) AS a FROM ab),
        |e AS (SELECT x, CAST(floor((CAST(y AS DOUBLE) - a - b * x) * 1000 + 0.5) AS BIGINT) AS e3,
        |  lag(CAST(floor((CAST(y AS DOUBLE) - a - b * x) * 1000 + 0.5) AS BIGINT))
        |    OVER (ORDER BY x) AS p3
        | FROM dly, ab2),
        |sums AS (SELECT CAST(sum(CASE WHEN p3 IS NOT NULL THEN (e3 - p3) * (e3 - p3) ELSE 0 END) AS BIGINT) AS sd,
        |  CAST(sum(e3 * e3) AS BIGINT) AS se, CAST(count(*) AS BIGINT) AS n_days FROM e)
        |SELECT n_days,
        | (SELECT floor(b * 1000000 + 0.5) / 1000000 FROM ab2) AS slope,
        | floor(CAST(sd AS DOUBLE) / se * 1000000 + 0.5) / 1000000 AS dw
        |FROM sums""".stripMargin) { (s, d) =>
      // e3 ≤ ~5e4, squares ≤ 2.5e9, ×days — safely inside int64 at any
      // fixture scale.
      val dly = Tables(s, d, "orders")
        .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
      graft.api.Pipelines.durbinWatson(dly, "x", "y").withColumnRenamed("n", "n_days")
    },

    // Stochastic oscillator %K/%D on daily purchase revenue: where
    // today's value sits inside the trailing 14-day high-low envelope
    // (%K), smoothed by a 3-day SMA (%D) — the mean-reversion
    // indicator completing the q_win_12/14/19/20 finance family
    // (Bollinger = volatility envelope, RSI = gain/loss balance,
    // stochastic = range position).
    Q("q_win_27_stochastic",
      """WITH dly AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT day, cents,
        |  CAST(count(*) OVER win AS BIGINT) AS k,
        |  CAST(min(cents) OVER win AS BIGINT) AS ll,
        |  CAST(max(cents) OVER win AS BIGINT) AS hh
        | FROM dly WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |pk AS (SELECT day,
        |  CASE WHEN hh = ll THEN CAST(500000 AS BIGINT)
        |   ELSE CAST(floor(CAST(cents - ll AS DOUBLE) * 1000000 / (hh - ll) + 0.5) AS BIGINT) END AS k6
        | FROM w WHERE k = 14),
        |sm AS (SELECT day, k6,
        |  CAST(count(*) OVER w3 AS BIGINT) AS m,
        |  CAST(sum(k6) OVER w3 AS BIGINT) AS s3
        | FROM pk WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |SELECT CAST(day AS BIGINT) AS day,
        | floor(CAST(k6 AS DOUBLE) / 10000 * 100 + 0.5) / 100 AS pct_k,
        | floor(CAST(floor(CAST(s3 AS DOUBLE) / 3 + 0.5) AS DOUBLE) / 10000 * 100 + 0.5) / 100 AS pct_d
        |FROM sm WHERE m = 3 ORDER BY day""".stripMargin) { (s, d) =>
      val dly = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.stochasticOscillator(dly, "day", "cents")
        .orderBy("day")
    },

    // Parquet AGGREGATE pushdown: global count/min/max answered from
    // parquet footer statistics — zero data pages read. At 100 TB this
    // is the difference between a metadata-only planning pass and a
    // full corpus scan for the same five numbers.
    Q("q_scan_21_agg_pushdown",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(l_orderkey) AS BIGINT) AS min_key,
        | CAST(max(l_orderkey) AS BIGINT) AS max_key,
        | CAST(year(min(l_shipdate)) * 10000 + month(min(l_shipdate)) * 100 + day(min(l_shipdate)) AS BIGINT) AS min_ship,
        | CAST(year(max(l_shipdate)) * 10000 + month(max(l_shipdate)) * 100 + day(max(l_shipdate)) AS BIGINT) AS max_ship
        |FROM lineitem""".stripMargin) { (s, d) =>
      // Aggregate pushdown needs the DSv2 parquet path; both confs are
      // flipped only around the EAGER materialization (localCheckpoint)
      // and restored in finally, so no other query's plan is affected.
      // min/max/count run against footers (plan shows
      // PushedAggregation); the date→int render happens in an outer
      // projection AFTER the pushed aggregate.
      val conf = s.conf
      val oldAgg = conf.getOption("spark.sql.parquet.aggregatePushdown")
      val oldV1 = conf.getOption("spark.sql.sources.useV1SourceList")
      try {
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        conf.set("spark.sql.sources.useV1SourceList",
          "avro,csv,json,kafka,orc,text")
        Tables(s, d, "lineitem")
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
            min("l_shipdate").as("mins"), max("l_shipdate").as("maxs"))
          .select(col("n_rows"), col("min_key"), col("max_key"),
            (year(col("mins")) * 10000 + month(col("mins")) * 100
              + dayofmonth(col("mins"))).cast("long").as("min_ship"),
            (year(col("maxs")) * 10000 + month(col("maxs")) * 100
              + dayofmonth(col("maxs"))).cast("long").as("max_ship"))
          .localCheckpoint()
      } finally {
        oldAgg.fold(conf.unset("spark.sql.parquet.aggregatePushdown"))(
          v => conf.set("spark.sql.parquet.aggregatePushdown", v))
        oldV1.fold(conf.unset("spark.sql.sources.useV1SourceList"))(
          v => conf.set("spark.sql.sources.useV1SourceList", v))
      }
    },

    // DYNAMIC partition pruning: orders land partitioned by ship month
    // (ym); a dim filtered on a DERIVED attribute (order year) prunes
    // the fact scan at runtime via the broadcast-exchange-reused
    // subquery — the partitioned-warehouse join pattern q_scan_15's
    // static pruning can't express (there the literal is known at plan
    // time; here the surviving months come out of the dim).
    Q("q_scan_22_dynamic_prune",
      """WITH f AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT ym, CAST(count(*) AS BIGINT) AS n_orders,
        | floor(CAST(sum(cents) AS DOUBLE) / 100 * 100 + 0.5) / 100 AS revenue
        |FROM f WHERE ym // 100 = 1995 GROUP BY ym ORDER BY ym""".stripMargin) { (s, d) =>
      val tmp = Round6Ops.dppCachePath(s, d)
      val dir = new java.io.File(tmp)
      // one partitioned materialization per (session, dataset) (81 month
      // dirs at sf0.1 — the write is the fixture setup, not the measured op)
      if (!dir.exists()) {
        Tables(s, d, "orders")
          .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("ym"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
          .write.partitionBy("ym").mode("overwrite").parquet(tmp)
      }
      val fact = s.read.parquet(tmp)
      val dim = s.read.parquet(tmp).select(col("ym")).distinct()
        .withColumn("y", (col("ym") / 100).cast("long"))
        .filter(col("y") === 1995)
      fact.join(broadcast(dim.select("ym")), Seq("ym"))
        .groupBy("ym")
        .agg(count(lit(1)).as("n_orders"),
          Num.round(sum("cents").cast("double") / 100, 2).as("revenue"))
        // partition-dir values type-infer as INT on read-back; emit the
        // declared BIGINT schema
        .select(col("ym").cast("long").as("ym"), col("n_orders"), col("revenue"))
        .orderBy("ym")
    },

    // Weekday seasonality profile of seven years of order flow: order
    // counts and mean value per day-of-week plus the deviation ratio
    // against the uniform-week baseline — the calendar-effect readout
    // (q_time_11's hour×day heatmap covers one month of events; this
    // is the long-horizon weekly cycle on the fact table).
    Q("q_time_21_dow_profile",
      """WITH o AS (SELECT (datediff('day', DATE '1970-01-01', o_orderdate) + 4) % 7 AS dow,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sc FROM o GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tot FROM g)
        |SELECT dow, n_orders,
        | floor(CAST(sc AS DOUBLE) / n_orders / 100 * 100 + 0.5) / 100 AS avg_value,
        | floor(CAST(n_orders AS DOUBLE) * 7 / tot * 1000000 + 0.5) / 1000000 AS vs_uniform
        |FROM g, t ORDER BY dow""".stripMargin) { (s, d) =>
      // dow = (epoch_days + 4) mod 7 (1970-01-01 was a Thursday; +4
      // lands Sunday on 0) — pure integer arithmetic, immune to the
      // engines' different dayofweek() numbering conventions. One
      // 7-group aggregate + a broadcast scalar.
      val o = Tables(s, d, "orders")
        .select(((datediff(col("o_orderdate"), lit("1970-01-01")) + 4) % 7).cast("long").as("dow"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val g = o.groupBy("dow")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sc"))
      val t = g.agg(sum("n_orders").as("tot"))
      g.crossJoin(broadcast(t))
        .select(col("dow"), col("n_orders"),
          (floor(col("sc").cast("double") / col("n_orders") / 100 * 100 + 0.5) / 100).as("avg_value"),
          (floor(col("n_orders").cast("double") * 7 / col("tot") * 1000000 + 0.5) / 1000000).as("vs_uniform"))
        .orderBy("dow")
    },

    // Generator-shaped path expansion: each user's first five events
    // collected into an ordered array, POSEXPLODEd back into
    // (step, event_type) rows, then the step×type population — the
    // onboarding-funnel table. The UDTF surface (§2.11's generator
    // family) driving a real product question: what do users DO first?
    Q("q_udtf_2_first_steps",
      """WITH r AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events)
        |SELECT CAST(rn AS BIGINT) AS step, event_type,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM r WHERE rn <= 5
        |GROUP BY 1, 2 ORDER BY step, event_type""".stripMargin) { (s, d) =>
      // collect_list under a ranking window is NOT order-stable across
      // partitions — the array builds from struct(rn, et) and
      // array_sort's on rn before the transform strips the key
      // (§2.12's determinism rule applied to array construction).
      // posexplode's 0-based pos + 1 == the window rank, proving the
      // generator round-trips the ranking exactly.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val firstN = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
      val arrs = firstN.groupBy("user_id")
        .agg(transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")).as("steps"))
      arrs.select(col("user_id"), posexplode(col("steps")).as(Seq("pos", "event_type")))
        .groupBy((col("pos") + 1).cast("long").as("step"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("step", "event_type")
    },

    // Month-over-month supplier-set Jaccard: how much of each ship
    // month's active supplier set carries over from the previous month
    // — set algebra as a TREND (q_set_2's intersect is one global
    // pair; this walks the whole calendar). Consecutive months index
    // through year*12+month so December→January chains correctly.
    Q("q_set_8_month_jaccard",
      """WITH ms AS (SELECT DISTINCT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS mi,
        |  l_suppkey FROM lineitem),
        |sz AS (SELECT mi, CAST(count(*) AS BIGINT) AS n FROM ms GROUP BY 1),
        |ix AS (SELECT a.mi AS mi, CAST(count(*) AS BIGINT) AS both FROM ms a
        | JOIN ms b ON b.mi = a.mi + 1 AND b.l_suppkey = a.l_suppkey GROUP BY 1)
        |SELECT sz.mi AS month_index, sz.n AS n_prev, nx.n AS n_next,
        | coalesce(ix.both, 0) AS n_common,
        | floor(CAST(coalesce(ix.both, 0) AS DOUBLE)
        |   / (sz.n + nx.n - coalesce(ix.both, 0)) * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM sz JOIN sz nx ON nx.mi = sz.mi + 1
        |LEFT JOIN ix ON ix.mi = sz.mi
        |ORDER BY sz.mi""".stripMargin) { (s, d) =>
      val ms = Tables(s, d, "lineitem")
        .select((year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).cast("long").as("mi"),
          col("l_suppkey"))
      graft.api.Pipelines.adjacentSetJaccard(ms, "mi", "l_suppkey")
        .withColumnRenamed("mi", "month_index")
        .orderBy("month_index")
    }
  )
}
