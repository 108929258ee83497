package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bh): the k-suppression cost curve,
  * a zone-map layout simulation, downside-risk windows (Sortino,
  * time-underwater), and the Hill tail-index estimator.
  *
  * Determinism discipline (§2.12): suppression and block pruning are
  * exact integer set algebra; daily diffs quantize to whole dollars
  * before squaring (squared sums stay in BIGINT); ln terms quantize
  * 1e-6 per row before any cross-row sum; ratios quantize at emission.
  */
object Round7hOps {

  val all: Seq[Q] = Seq(

    // k-suppression cost curve: publishing only QI groups of size ≥ k
    // for k ∈ {2,5,10,20} — rows lost, groups dropped, and the cost
    // share. The OTHER arm of the anonymization tradeoff: q_priv_3
    // coarsens the QI; this suppresses; a release planner prices both.
    Q("q_priv_5_suppression_cost",
      """WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |k AS (SELECT CAST(unnest([2, 5, 10, 20]) AS BIGINT) AS k)
        |SELECT k.k AS k,
        | CAST(sum(CASE WHEN g.n >= k.k THEN g.n ELSE 0 END) AS BIGINT) AS n_published,
        | CAST(sum(CASE WHEN g.n < k.k THEN g.n ELSE 0 END) AS BIGINT) AS n_suppressed,
        | CAST(sum(CASE WHEN g.n < k.k THEN 1 ELSE 0 END) AS BIGINT) AS groups_suppressed,
        | floor(CAST(sum(CASE WHEN g.n < k.k THEN g.n ELSE 0 END) AS DOUBLE)
        |   / sum(g.n) * 1000000 + 0.5) / 1000000 AS suppression_cost
        |FROM g, k GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.api.Pipelines.suppressionCost(Tables(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"))
        .orderBy("k")
    },

    // Zone-map pruning simulation: 512-row blocks under two physical
    // sort orders (by date vs by value), and how many blocks a
    // "totalprice ≥ $400k" predicate could skip from block max stats
    // alone — the sort-layout decision quantified BEFORE any rewrite
    // (q_sink_2 writes a z-order; this prices WHY).
    Q("q_scan_23_zonemap_sim",
      """WITH o AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |  o_orderkey, o_orderdate FROM orders),
        |bd AS (SELECT cents,
        |  (row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1) // 512 AS blk FROM o),
        |bp AS (SELECT cents,
        |  (row_number() OVER (ORDER BY cents, o_orderkey) - 1) // 512 AS blk FROM o),
        |sd AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN mx < 40000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_prunable
        | FROM (SELECT blk, max(cents) AS mx FROM bd GROUP BY 1)),
        |sp AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN mx < 40000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_prunable
        | FROM (SELECT blk, max(cents) AS mx FROM bp GROUP BY 1)),
        |m AS (SELECT CAST(sum(CASE WHEN cents >= 40000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_match FROM o)
        |SELECT * FROM (
        | SELECT 'a_by_date' AS layout, sd.n_blocks, sd.n_prunable,
        |  floor(CAST(sd.n_prunable AS DOUBLE) / sd.n_blocks * 1000000 + 0.5) / 1000000 AS prune_share,
        |  m.n_match FROM sd, m
        | UNION ALL
        | SELECT 'b_by_value', sp.n_blocks, sp.n_prunable,
        |  floor(CAST(sp.n_prunable AS DOUBLE) / sp.n_blocks * 1000000 + 0.5) / 1000000,
        |  m.n_match FROM sp, m)
        |ORDER BY layout""".stripMargin) { (s, d) =>
      // Two global rank windows (range-partitioned sort at scale — this
      // IS the cost the simulation prices), then |blocks|-bounded max
      // aggregates. Block stats mirror parquet footer min/max: the
      // value-sorted layout concentrates the hot tail in few blocks.
      val o = Tables(s, d, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          col("o_orderkey"), col("o_orderdate"))
        .localCheckpoint()
      val thr = 40000000L
      def layout(tag: String, order: Seq[org.apache.spark.sql.Column]) = {
        // orders-scaled input: block ids come off the range-partitioned
        // exact rank, not a single-partition row_number window
        graft.api.Pipelines.exactGlobalRankBy(o, order, "rn")
          .select(col("cents"), expr("(rn - 1) div 512").as("blk"))
          .groupBy("blk").agg(max("cents").as("mx"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(col("mx") < thr, 1L).otherwise(0L)).as("n_prunable"))
          .select(lit(tag).as("layout"), col("n_blocks"), col("n_prunable"),
            Num.round(col("n_prunable").cast("double") / col("n_blocks"), 6)
              .as("prune_share"))
      }
      val m = o.agg(sum(when(col("cents") >= thr, 1L).otherwise(0L)).as("n_match"))
      layout("a_by_date", Seq(col("o_orderdate"), col("o_orderkey")))
        .union(layout("b_by_value", Seq(col("cents"), col("o_orderkey"))))
        .crossJoin(broadcast(m))
        .orderBy("layout")
    },

    // Sortino ratio per year: mean daily revenue change over DOWNSIDE
    // deviation (RMS of negative changes only) — the risk-adjusted
    // trend that doesn't punish upside volatility the way a plain
    // Sharpe-style ratio would.
    Q("q_win_30_sortino",
      """WITH dly AS (SELECT year(o_orderdate) AS y,
        |  datediff('day', DATE '1970-01-01', o_orderdate) AS day,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |df AS (SELECT y,
        |  CAST(floor((CAST(cents AS DOUBLE)
        |    - lag(cents) OVER (PARTITION BY y ORDER BY day)) / 100 + 0.5) AS BIGINT) AS dd
        | FROM dly QUALIFY lag(cents) OVER (PARTITION BY y ORDER BY day) IS NOT NULL)
        |SELECT CAST(y AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS n_diffs,
        | floor(CAST(sum(dd) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS mean_diff,
        | floor(sqrt(CAST(sum(CASE WHEN dd < 0 THEN dd * dd ELSE 0 END) AS DOUBLE)
        |   / count(*)) * 100 + 0.5) / 100 AS downside_dev,
        | floor((CAST(sum(dd) AS DOUBLE) / count(*))
        |   / sqrt(CAST(sum(CASE WHEN dd < 0 THEN dd * dd ELSE 0 END) AS DOUBLE)
        |     / count(*)) * 10000 + 0.5) / 10000 AS sortino
        |FROM df GROUP BY 1 ORDER BY y""".stripMargin) { (s, d) =>
      // Diffs quantize to whole DOLLARS before squaring (cents-scale
      // squares would overflow BIGINT over a year); one lag window
      // inside the year partition, exact sums after.
      val dly = Tables(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      val w = Window.partitionBy("y").orderBy("day")
      val df = dly
        .withColumn("prev", lag("cents", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("y"),
          floor((col("cents").cast("double") - col("prev")) / 100 + 0.5)
            .cast("long").as("dd"))
      val dneg = sum(when(col("dd") < 0, col("dd") * col("dd")).otherwise(0L))
      df.groupBy(col("y").cast("long").as("y"))
        .agg(count(lit(1)).as("n_diffs"),
          Num.round(sum("dd").cast("double") / count(lit(1)), 2).as("mean_diff"),
          Num.round(sqrt(dneg.cast("double") / count(lit(1))), 2).as("downside_dev"),
          Num.round((sum("dd").cast("double") / count(lit(1)))
            / sqrt(dneg.cast("double") / count(lit(1))), 4).as("sortino"))
        .orderBy("y")
    },

    // Time-underwater per year: for each day, days since the revenue
    // series last touched its running peak; the duration face of
    // drawdown (q_win_28's ulcer measures DEPTH; recovery time is what
    // an operator actually waits through).
    Q("q_win_31_underwater",
      """WITH dly AS (SELECT year(o_orderdate) AS y,
        |  datediff('day', DATE '1970-01-01', o_orderdate) AS day,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |pk AS (SELECT y, day, cents,
        |  max(cents) OVER (PARTITION BY y ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM dly),
        |uw AS (SELECT y, day,
        |  day - max(CASE WHEN cents >= peak THEN day END)
        |    OVER (PARTITION BY y ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS under
        | FROM pk)
        |SELECT CAST(y AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS n_days,
        | CAST(max(under) AS BIGINT) AS max_underwater_days,
        | floor(CAST(sum(under) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS mean_underwater_days
        |FROM uw GROUP BY 1 ORDER BY y""".stripMargin) { (s, d) =>
      // A day is "at peak" iff it sets the running max; the last such
      // day rides the SAME ordered window as the peak itself — two
      // stacked windows, zero joins, exact integer day arithmetic.
      val dly = Tables(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      val w = Window.partitionBy("y").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dly.withColumn("peak", max("cents").over(w))
        .withColumn("under",
          col("day") - max(when(col("cents") >= col("peak"), col("day"))).over(w))
        .groupBy(col("y").cast("long").as("y"))
        .agg(count(lit(1)).as("n_days"),
          max("under").as("max_underwater_days"),
          Num.round(sum("under").cast("double") / count(lit(1)), 4)
            .as("mean_underwater_days"))
        .orderBy("y")
    },

    // Hill tail-index of the order-value distribution (k=100): α < 2
    // means revenue concentration so heavy the variance is effectively
    // undefined and mean-based planning misleads — the distributional
    // readout behind q_agg_34/35's concentration curves.
    Q("q_agg_43_hill_tail",
      """WITH o AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |  o_orderkey FROM orders),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rn FROM o),
        |t AS (SELECT cents, rn,
        |  CAST(floor(ln(CAST(cents AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS ln6
        | FROM r WHERE rn <= 101),
        |ref AS (SELECT max(CASE WHEN rn = 101 THEN ln6 END) AS ref6,
        |  max(CASE WHEN rn = 101 THEN cents END) AS ref_cents FROM t),
        |m AS (SELECT CAST(sum(CASE WHEN rn <= 100 THEN ln6 ELSE 0 END) AS BIGINT) AS s6 FROM t)
        |SELECT CAST(100 AS BIGINT) AS k,
        | floor(CAST(ref_cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS x_ref,
        | floor(100.0 * 1000000 / (s6 - 100 * ref6) * 10000 + 0.5) / 10000 AS alpha
        |FROM m, ref""".stripMargin) { (s, d) =>
      // Top-101 via one ranking window (TakeOrdered at scale); per-row
      // ln quantizes 1e-6 so the 100-term sum is exact; α is one
      // division of those integers.
      val w = Window.orderBy(col("cents").desc, col("o_orderkey"))
      val t = Tables(s, d, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          col("o_orderkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 101)
        .select(col("cents"), col("rn"),
          floor(log(col("cents").cast("double")) * 1000000 + 0.5).cast("long").as("ln6"))
        .localCheckpoint()
      val ref = t.agg(max(when(col("rn") === 101, col("ln6"))).as("ref6"),
        max(when(col("rn") === 101, col("cents"))).as("ref_cents"))
      val m = t.agg(sum(when(col("rn") <= 100, col("ln6")).otherwise(0L)).as("s6"))
      m.crossJoin(broadcast(ref))
        .select(lit(100L).as("k"),
          Num.round(col("ref_cents").cast("double") / 100, 2).as("x_ref"),
          Num.round(lit(100.0) * 1000000 / (col("s6") - col("ref6") * 100), 4).as("alpha"))
    }
  )
}
