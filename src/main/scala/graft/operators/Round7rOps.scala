package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11br): estimator wave two —
  * Ansari–Bradley scale test, Kendall τ-b with tie corrections, MASE
  * forecast accuracy, the PERCENTILE DISC-vs-CONT divergence pin, and
  * per-entity calendar spines.
  *
  * Determinism discipline (§2.12): AB scores and τ-b pair counts are
  * exact integers (rank ties broken by unique keys, stated); MASE
  * numerators/denominators stay integer until one division; the spine
  * emits SIZES, never arrays.
  */
object Round7rOps {

  private def D(c: Column) = c.cast("double")

  val all: Seq[Q] = Seq(

    // Ansari–Bradley: the rank test for SCALE differences (do URGENT
    // and LOW order values have the same dispersion?). Scores count in
    // from both ends of the pooled order: s_i = min(r_i, N+1-r_i);
    // the group-1 score sum against its closed-form null mean/variance
    // (even/odd N cases). Ranks are totally ordered by (value, key), so
    // every score is an exact integer.
    Q("q_stat_45_ansari_bradley",
      """WITH p AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS t2, o_orderkey
        | FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |r AS (SELECT g, row_number() OVER (ORDER BY t2, o_orderkey) AS rn,
        |  count(*) OVER () AS nn FROM p),
        |s AS (SELECT g, nn, least(rn, nn + 1 - rn) AS sc FROM r)
        |SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        | CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        | CAST(sum(CASE WHEN g = 1 THEN sc ELSE 0 END) AS BIGINT) AS ab_stat,
        | floor(CASE WHEN max(nn) % 2 = 0
        |   THEN CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE) * (max(nn) + 2) / 4
        |   ELSE CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |     * (max(nn) + 1) * (max(nn) + 1) / (4 * max(nn)) END * 1000000 + 0.5) / 1000000 AS e_ab
        |FROM s""".stripMargin) { (s, d) =>
      // Global ranks over the two-priority slice (totally ordered by
      // the unique money+key pair) come from Pipelines.exactGlobalRank
      // — range-partitioned, never a one-task window even though the
      // slice scales with the orders fact — then a single aggregate,
      // the same shape as q_stat_4's Mann–Whitney.
      val p = Tables(s, d, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("g"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("t2"),
          col("o_orderkey"))
        .localCheckpoint()
      val nTot = p.count()
      val r = graft.api.Pipelines.exactGlobalRank(p, Seq("t2", "o_orderkey"), "rn")
        .select(col("g"), col("rn"), lit(nTot).as("nn"))
      val sc = r.select(col("g"), col("nn"),
        least(col("rn"), col("nn") + 1 - col("rn")).as("sc"))
      sc.agg(
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("n2"),
          sum(when(col("g") === 1, col("sc")).otherwise(0L)).as("ab_stat"),
          max(col("nn")).as("__nn"))
        .select(col("n1"), col("n2"), col("ab_stat"),
          Num.round(
            when(col("__nn") % 2 === 0, D(col("n1")) * (col("__nn") + 2) / 4)
              .otherwise(D(col("n1")) * (col("__nn") + 1) * (col("__nn") + 1)
                / (lit(4) * col("__nn"))), 6).as("e_ab"))
    },

    // Kendall τ-b over the monthly (order volume, avg value) series —
    // the tie-corrected twin of q_stat_10's τ-a. Concordant/discordant/
    // tied pair counts are exact integers off the calendar-bounded
    // months² self-join; τ-b divides once at emission.
    Q("q_stat_46_kendall_tau_b",
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
        |  CAST(count(*) AS BIGINT) AS x,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / count(*) AS BIGINT) AS y
        | FROM orders GROUP BY 1),
        |p AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        | FROM m a JOIN m b ON a.ym < b.ym),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN (x1 < x2 AND y1 < y2) OR (x1 > x2 AND y1 > y2) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |  CAST(sum(CASE WHEN (x1 < x2 AND y1 > y2) OR (x1 > x2 AND y1 < y2) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |  CAST(sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |  CAST(sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
        |  CAST(count(*) AS BIGINT) AS n0
        | FROM p)
        |SELECT nc, nd, tx, ty, n0,
        | floor(CAST(nc - nd AS DOUBLE)
        |   / sqrt(CAST((n0 - tx) AS DOUBLE) * (n0 - ty)) * 1000000 + 0.5) / 1000000 AS tau_b
        |FROM c""".stripMargin) { (s, d) =>
      // y = integer-division mean cents (exact BIGINT) so tie detection
      // is integer equality on both engines.
      val m = Tables(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("x"),
          (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            / count(lit(1))).cast("long").as("y"))
      graft.api.Pipelines.kendallTauB(m, "ym", "x", "y")
    },

    // MASE — mean absolute scaled error — of a 3-month moving-average
    // forecast of monthly order volume, scaled by the one-step naive
    // baseline: THE unit-free forecast-accuracy metric. Errors are
    // integer counts; the 3-month mean is kept as a ×3 integer so both
    // absolute-error sums stay exact until the final ratio.
    Q("q_ml_14_mase",
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym, CAST(count(*) AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |l AS (SELECT ym, x,
        |  lag(x, 1) OVER (ORDER BY ym) AS x1,
        |  lag(x, 2) OVER (ORDER BY ym) AS x2,
        |  lag(x, 3) OVER (ORDER BY ym) AS x3
        | FROM m),
        |e AS (SELECT abs(3 * x - (x1 + x2 + x3)) AS e3, abs(3 * x - 3 * x1) AS e1
        | FROM l WHERE x3 IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_scored,
        | CAST(sum(e3) AS BIGINT) AS sum_err3x,
        | CAST(sum(e1) AS BIGINT) AS sum_naive3x,
        | floor(CAST(sum(e3) AS DOUBLE) / sum(e1) * 1000000 + 0.5) / 1000000 AS mase
        |FROM e""".stripMargin) { (s, d) =>
      val m = Tables(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("x"))
      graft.api.Pipelines.mase(m, "ym", "x")
    },

    // PERCENTILE_DISC vs PERCENTILE_CONT divergence, pinned per
    // returnflag on the integral quantities: DISC is the engine-stable
    // type-1 rank pick (the house standard), CONT linearly
    // interpolates — the two disagree whenever the rank position is
    // fractional, and a pipeline must KNOW which one it shipped.
    Q("q_agg_45_percentile_disc_cont",
      """WITH q AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |  l_orderkey, l_linenumber FROM lineitem),
        |r AS (SELECT l_returnflag, qty,
        |  row_number() OVER (PARTITION BY l_returnflag ORDER BY qty, l_orderkey, l_linenumber) AS rn,
        |  count(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM q),
        |disc AS (SELECT l_returnflag,
        |  CAST(max(CASE WHEN rn = (n + 3) // 4 THEN qty END) AS BIGINT) AS q25_disc
        | FROM r GROUP BY 1),
        |cont AS (SELECT l_returnflag,
        |  floor(quantile_cont(qty, 0.25) * 1000000 + 0.5) / 1000000 AS q25_cont
        | FROM q GROUP BY 1)
        |SELECT disc.l_returnflag, q25_disc, q25_cont,
        | CAST(CASE WHEN CAST(q25_disc AS DOUBLE) = q25_cont THEN 0 ELSE 1 END AS BIGINT) AS differ
        |FROM disc JOIN cont ON disc.l_returnflag = cont.l_returnflag
        |ORDER BY disc.l_returnflag""".stripMargin) { (s, d) =>
      // DISC = ceil(0.25·n) rank pick (integer arithmetic); CONT =
      // Spark's exact interpolating percentile() — integral inputs make
      // the interpolation double-exact, so 1e-6 quantization is safe.
      // DISC pick via per-(flag, qty) COUNTS + a grouped prefix sum
      // (Pipelines.groupRankPrefix, r13 — the 3-value returnflag window
      // was a 3-task corpus sort): qty has a ~50-value domain, so the
      // rank machinery runs over ≤ flags×50 rows after one map-side-
      // combinable aggregate; the value at rank ⌈n/4⌉ is the smallest
      // qty whose cumulative count reaches the rank (ties share qty, so
      // the pick is rank-deterministic — exactRankPick's argument).
      val q = Tables(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      val cnts = q.groupBy("l_returnflag", "qty").agg(count(lit(1)).as("cnt"))
      // the count table is BOUNDED (|flags| × qty's ~50-value domain),
      // so the cumulative count is a plain window over a bounded table
      // (r14 — the r13 groupRankPrefix call paid a range-sampling job
      // and two RDD passes for ≤150 rows). Identical integers.
      val wc = Window.partitionBy("l_returnflag").orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = cnts
        .withColumn("cum", sum("cnt").over(wc))
        .withColumn("n", sum("cnt").over(Window.partitionBy("l_returnflag")))
      val disc = pre.groupBy("l_returnflag")
        .agg(min(when(col("cum") >= expr("(n + 3) div 4"), col("qty"))).as("q25_disc"))
      val cont = q.groupBy(col("l_returnflag").as("rf2"))
        .agg(Num.round(expr("percentile(qty, 0.25)"), 6).as("q25_cont"))
      disc.join(cont, col("l_returnflag") === col("rf2"))
        .select(col("l_returnflag"), col("q25_disc"), col("q25_cont"),
          (D(col("q25_disc")) =!= col("q25_cont")).cast("long").as("differ"))
        .orderBy("l_returnflag")
    },

    // Per-entity calendar spine: each customer's inclusive month range
    // first→last order materialized with sequence(), sized against the
    // months actually active — the per-entity gap-filling primitive
    // (the global spine is q_time_1). SIZES are emitted, never arrays.
    Q("q_arr_7_entity_spine",
      """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate) AS m FROM orders),
        |g AS (SELECT o_custkey, min(m) AS mn, max(m) AS mx,
        |  CAST(count(DISTINCT m) AS BIGINT) AS n_active
        | FROM o GROUP BY 1)
        |SELECT o_custkey,
        | CAST(len(generate_series(mn, mx, INTERVAL 1 MONTH)) AS BIGINT) AS n_span,
        | n_active,
        | floor(CAST(n_active AS DOUBLE)
        |   / len(generate_series(mn, mx, INTERVAL 1 MONTH)) * 1000000 + 0.5) / 1000000 AS coverage
        |FROM g ORDER BY o_custkey""".stripMargin) { (s, d) =>
      // sequence(start, stop, interval 1 month) is inclusive on both
      // engines; only its SIZE ships (array outputs are
      // representation-fragile across the pandas paths).
      val g = Tables(s, d, "orders")
        .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("m"))
        .groupBy("o_custkey")
        .agg(min("m").as("mn"), max("m").as("mx"),
          countDistinct(col("m")).as("n_active"))
      val spine = size(sequence(col("mn"), col("mx"), expr("interval 1 month")))
      g.select(col("o_custkey"),
          spine.cast("long").as("n_span"),
          col("n_active"),
          Num.round(D(col("n_active")) / spine, 6).as("coverage"))
        .orderBy("o_custkey")
    }
  )
}
