package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-8 additions: the range-partitioned exact-order-statistic
  * machinery (Pipelines.exactRankPick / exactGlobalRank /
  * groupRankPrefix) exposed as first-class oracle-checked queries — the
  * user-facing "exact percentiles / revenue concentration / ECDF at
  * scale" capability, not just internal plumbing. Each oracle uses a
  * DIFFERENT computational shape than the engine (rank windows or
  * plain conditional counts), so agreement checks the machinery, not
  * a mirrored formula.
  */
object Round8Ops {

  private def D(c: org.apache.spark.sql.Column) = c.cast("double")

  val all: Seq[Q] = Seq(

    // Exact percentile grid (P10/P25/P50/P75/P90/P99) of lineitem
    // extendedprice — type-1 rank picks over the LARGEST fact table,
    // via Pipelines.exactRankPick: one range shuffle + a P-row
    // histogram; no stage ever funnels the fact through one task. The
    // oracle re-derives the same order statistics with a rank window.
    Q("q_sort_9_percentile_grid",
      """WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents FROM lineitem),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c)
        |SELECT n.n AS n_rows,
        | CAST(max(CASE WHEN rn = (n + 9) // 10 THEN cents END) AS DOUBLE) / 100 AS p10,
        | CAST(max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS DOUBLE) / 100 AS p25,
        | CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS DOUBLE) / 100 AS p50,
        | CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS DOUBLE) / 100 AS p75,
        | CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS DOUBLE) / 100 AS p90,
        | CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS DOUBLE) / 100 AS p99
        |FROM r, n GROUP BY n.n""".stripMargin) { (s, d) =>
      // ranks are the ⌈q·n⌉ integer ceilings (both engines floor-divide
      // the same integers); the picked cents are exact, the one /100
      // division happens at emission on identical longs
      val c = Tables(s, d, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      def ranks(n: Long) = Seq((n + 9) / 10, (n + 3) / 4, (n + 1) / 2,
        (3 * n + 3) / 4, (9 * n + 9) / 10, (99 * n + 99) / 100)
      val (n, picks) = graft.api.Pipelines.exactRankPick(c, "cents", ranks)
      val Seq(r10, r25, r50, r75, r90, r99) = ranks(n)
      import s.implicits._
      Seq((n, picks(r10).toDouble / 100, picks(r25).toDouble / 100,
        picks(r50).toDouble / 100, picks(r75).toDouble / 100,
        picks(r90).toDouble / 100, picks(r99).toDouble / 100))
        .toDF("n_rows", "p10", "p25", "p50", "p75", "p90", "p99")
    },

    // Revenue concentration: the share of total order value held by
    // the top 1% / 5% / 10% of customers by spend — the Pareto readout
    // every mixing/curation budget starts from. Customer spend ranks
    // come from Pipelines.exactGlobalRank (range-partitioned, n
    // free off the count pass); the shares are exact-cent ratios. The
    // oracle ranks with a window; same integers, one division each.
    Q("q_agg_48_top_share",
      """WITH s AS (SELECT o_custkey AS c,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
        | FROM orders GROUP BY 1),
        |r AS (SELECT s, row_number() OVER (ORDER BY s DESC, c) AS rk,
        |  count(*) OVER () AS n, CAST(sum(s) OVER () AS BIGINT) AS tot FROM s)
        |SELECT CAST(max(n) AS BIGINT) AS n_customers,
        | floor(CAST(sum(CASE WHEN rk <= (n + 99) // 100 THEN s ELSE 0 END) AS DOUBLE)
        |   / max(tot) * 1000000 + 0.5) / 1000000 AS top1_share,
        | floor(CAST(sum(CASE WHEN rk <= (n + 19) // 20 THEN s ELSE 0 END) AS DOUBLE)
        |   / max(tot) * 1000000 + 0.5) / 1000000 AS top5_share,
        | floor(CAST(sum(CASE WHEN rk <= (n + 9) // 10 THEN s ELSE 0 END) AS DOUBLE)
        |   / max(tot) * 1000000 + 0.5) / 1000000 AS top10_share
        |FROM r""".stripMargin) { (s, d) =>
      val spend = Tables(s, d, "orders")
        .groupBy(col("o_custkey").as("c"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("s"))
      val (n, ranked) = graft.api.Pipelines
        .exactGlobalRank(spend, Seq(col("s").desc, col("c")), "rk")
      val (k1, k5, k10) = ((n + 99) / 100, (n + 19) / 20, (n + 9) / 10)
      ranked.agg(
          sum(when(col("rk") <= k1, col("s")).otherwise(0L)).as("s1"),
          sum(when(col("rk") <= k5, col("s")).otherwise(0L)).as("s5"),
          sum(when(col("rk") <= k10, col("s")).otherwise(0L)).as("s10"),
          sum(col("s")).as("tot"))
        .select(lit(n).as("n_customers"),
          Num.round(D(col("s1")) / col("tot"), 6).as("top1_share"),
          Num.round(D(col("s5")) / col("tot"), 6).as("top5_share"),
          Num.round(D(col("s10")) / col("tot"), 6).as("top10_share"))
    },

    // ECDF of order value at fixed probe prices, computed from the
    // distinct-value grid + Pipelines.groupRankPrefix (the scale form: the
    // corpus collapses to per-value counts, the cumsum never runs in
    // one task). The oracle deliberately uses a DIFFERENT shape —
    // plain conditional counts over the raw rows — so a prefix-sum
    // bug cannot hide behind a mirrored formula.
    Q("q_stat_47_ecdf_probes",
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | floor(CAST(sum(CASE WHEN cents <= 10000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS f_100k,
        | floor(CAST(sum(CASE WHEN cents <= 20000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS f_200k,
        | floor(CAST(sum(CASE WHEN cents <= 30000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS f_300k,
        | floor(CAST(sum(CASE WHEN cents <= 40000000 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS f_400k
        |FROM c""".stripMargin) { (s, d) =>
      // F(x) = the cumulative count at the largest grid value ≤ x (0
      // when the probe undercuts the grid); counts are exact longs,
      // one double division per probe at emission
      val pts = Tables(s, d, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .groupBy("cents").agg(count(lit(1)).as("cnt"))
      val cum = graft.api.Pipelines.groupRankPrefix(pts, Nil, Seq(col("cents")),
        sums = Seq(("cnt", "cum", "")))
      def fAt(probeCents: Long) =
        coalesce(max(when(col("cents") <= probeCents, col("cum"))), lit(0L))
      cum.agg(max("cum").as("n"),
          fAt(10000000L).as("c1"), fAt(20000000L).as("c2"),
          fAt(30000000L).as("c3"), fAt(40000000L).as("c4"))
        .select(col("n").as("n_rows"),
          Num.round(D(col("c1")) / col("n"), 6).as("f_100k"),
          Num.round(D(col("c2")) / col("n"), 6).as("f_200k"),
          Num.round(D(col("c3")) / col("n"), 6).as("f_300k"),
          Num.round(D(col("c4")) / col("n"), 6).as("f_400k"))
    }
  )
}
