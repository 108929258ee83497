package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 additions (SURVEY §2.11ba): privacy-risk audits over the
  * customer dimension (k-anonymity, l-diversity, a generalization
  * ladder, quasi-identifier uniqueness), a catalog-wide FK orphan
  * audit, and year-over-year population symmetric difference.
  *
  * The privacy family is the release-gate a training-data pipeline
  * runs before shipping a corpus containing user-derived records:
  * "how re-identifiable is a row given its quasi-identifiers?" —
  * Sweeney's k-anonymity and Machanavajjhala's l-diversity as plain
  * group-size algebra, which is exactly what makes them cheap at
  * 100 TB (one map-side-combinable groupBy per level, result is
  * |QI-combination|-bounded).
  *
  * Determinism discipline (§2.12): all group sizes are exact BIGINTs;
  * acctbal bucketing uses floor(x / step) on the raw double (identical
  * IEEE on both engines; integer `div` is AVOIDED because Spark
  * truncates toward zero while DuckDB floors — they disagree on the
  * negative acctbal rows); every ratio quantizes 1e-6 at emission.
  */
object Round7Ops {

  val all: Seq[Q] = Seq(

    // k-anonymity of the (nation, mktsegment) quasi-identifier pair:
    // the minimum group size IS the k, and the share of customers in
    // groups under 5 is the headline re-identification risk number.
    Q("q_priv_1_kanon",
      """WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(min(n) AS BIGINT) AS k_anonymity,
        | CAST(max(n) AS BIGINT) AS max_group,
        | CAST(sum(n) AS BIGINT) AS n_customers,
        | CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_at_risk,
        | floor(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
        |   / sum(n) * 1000000 + 0.5) / 1000000 AS risk_share
        |FROM g""".stripMargin) { (s, d) =>
      graft.api.Pipelines.kAnonymity(Tables(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"))
        .withColumnRenamed("n_rows", "n_customers")
    },

    // l-diversity of the same QI groups against the sensitive
    // attribute (acctbal in $1000 bands): a k-anonymous group where
    // everyone shares one sensitive value still leaks it — min_l and
    // the customers inside low-diversity groups are the readout.
    Q("q_priv_2_ldiversity",
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS l
        | FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(min(l) AS BIGINT) AS min_l,
        | floor(CAST(sum(l) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS mean_l,
        | CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_div_groups,
        | CAST(sum(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT) AS n_exposed
        |FROM g""".stripMargin) { (s, d) =>
      // The sensitive-value band uses floor(x/1000) on the raw double
      // (NOT integer div — acctbal goes negative and the engines' div
      // semantics differ).
      graft.api.Pipelines.lDiversity(Tables(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"))
    },

    // Generalization ladder: k-anonymity re-measured at three QI
    // coarsenings — (nation, segment) → (region, segment) → (segment).
    // The lattice walk an anonymization pipeline does to find the
    // cheapest generalization that clears its k threshold.
    Q("q_priv_3_generalization",
      """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment, n_regionkey
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |l1 AS (SELECT c_nationkey AS a, c_mktsegment AS b, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
        |l2 AS (SELECT n_regionkey AS a, c_mktsegment AS b, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
        |l3 AS (SELECT CAST(0 AS BIGINT) AS a, c_mktsegment AS b, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
        |u AS (SELECT 1 AS level, * FROM l1 UNION ALL SELECT 2, * FROM l2 UNION ALL SELECT 3, * FROM l3)
        |SELECT CAST(level AS BIGINT) AS level,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(min(n) AS BIGINT) AS k_anonymity,
        | CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS n_at_risk_10,
        | floor(CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS DOUBLE)
        |   / sum(n) * 1000000 + 0.5) / 1000000 AS risk_share_10
        |FROM u GROUP BY 1 ORDER BY level""".stripMargin) { (s, d) =>
      // One broadcast dim join, then three group-size profiles off the
      // SAME projected frame (Catalyst reuses the scan via the
      // localCheckpoint); each level's aggregate is QI-bounded tiny.
      val c = Tables(s, d, "customer")
        .join(broadcast(Tables(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n_regionkey"))
        .localCheckpoint()
      def level(lv: Int, key: Column): DataFrame =
        c.groupBy(key.as("a"), col("c_mktsegment").as("b"))
          .agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_groups"), min("n").as("k_anonymity"),
            sum(when(col("n") < 10, col("n")).otherwise(0L)).as("n_at_risk_10"),
            Num.round(sum(when(col("n") < 10, col("n")).otherwise(0L)).cast("double")
              / sum("n"), 6).as("risk_share_10"))
          .select(lit(lv.toLong).as("level"), col("n_groups"), col("k_anonymity"),
            col("n_at_risk_10"), col("risk_share_10"))
      level(1, col("c_nationkey"))
        .union(level(2, col("n_regionkey")))
        .union(level(3, lit(0L)))
        .orderBy("level")
    },

    // Quasi-identifier uniqueness: add a $100 acctbal band to the QI
    // and measure the share of customers whose combination is UNIQUE —
    // the classic "87% of Americans are unique on (zip, dob, sex)"
    // risk estimate, run on the table's own attributes.
    Q("q_priv_4_quasi_unique",
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_band,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(sum(n) AS BIGINT) AS n_customers,
        | CAST(count(*) AS BIGINT) AS n_combos,
        | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        | floor(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / sum(n) * 1000000 + 0.5) / 1000000 AS uniqueness_risk
        |FROM g""".stripMargin) { (s, d) =>
      Tables(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 100).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n"))
        .agg(sum("n").as("n_customers"), count(lit(1)).as("n_combos"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_unique"),
          Num.round(sum(when(col("n") === 1, 1L).otherwise(0L)).cast("double")
            / sum("n"), 6).as("uniqueness_risk"))
    },

    // Catalog-wide FK orphan audit: every declared child→parent edge
    // checked in one result — the referential-integrity complement of
    // q_dq_34's PK side (q_dq_2 checks ONE edge; a warehouse contract
    // wants the whole catalog in one report).
    Q("q_dq_35_fk_audit",
      """SELECT 'customer.c_nationkey->nation' AS edge,
        | CAST(count(*) AS BIGINT) AS n_child,
        | CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'nation.n_regionkey->region', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        |UNION ALL
        |SELECT 'orders.o_custkey->customer', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |UNION ALL
        |SELECT 'supplier.s_nationkey->nation', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY edge""".stripMargin) { (s, d) =>
      // Each edge is a left join + orphan count. Dimension parents are
      // broadcast; the one fact-fact edge (lineitem→orders) shuffles on
      // the join key exactly once. At 100 TB the orphan COUNT only
      // needs the parent's key column — the scans prune to 1 column.
      def edge(name: String, child: DataFrame, fk: String,
               parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
        val p0 = parent.select(col(pk))
        val p = if (bcast) broadcast(p0) else p0
        child.select(col(fk))
          .join(p, col(fk) === col(pk), "left_outer")
          .agg(count(lit(1)).as("n_child"),
            sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
      }
      edge("customer.c_nationkey->nation", Tables(s, d, "customer"), "c_nationkey",
          Tables(s, d, "nation"), "n_nationkey", bcast = true)
        .union(edge("lineitem.l_orderkey->orders", Tables(s, d, "lineitem"), "l_orderkey",
          Tables(s, d, "orders"), "o_orderkey", bcast = false))
        .union(edge("nation.n_regionkey->region", Tables(s, d, "nation"), "n_regionkey",
          Tables(s, d, "region"), "r_regionkey", bcast = true))
        .union(edge("orders.o_custkey->customer", Tables(s, d, "orders"), "o_custkey",
          Tables(s, d, "customer"), "c_custkey", bcast = true))
        .union(edge("supplier.s_nationkey->nation", Tables(s, d, "supplier"), "s_nationkey",
          Tables(s, d, "nation"), "n_nationkey", bcast = true))
        .orderBy("edge")
    },

    // Symmetric difference of the 1995 vs 1996 active-customer
    // populations in ONE pass: per-customer year flags folded to
    // only-A / only-B / both counts plus the churn share —
    // q_set_3_except materializes one side of this; the flag fold
    // gives the whole 2x2 without a second scan or an EXCEPT shuffle.
    Q("q_set_9_symdiff",
      """WITH f AS (SELECT o_custkey,
        |  max(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS a,
        |  max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS b
        | FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1)
        |SELECT CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_1995_only,
        | CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1996_only,
        | CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        | CAST(count(*) AS BIGINT) AS n_either,
        | floor(CAST(sum(CASE WHEN a + b = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS symdiff_share
        |FROM f""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy("o_custkey")
        .agg(max(when(year(col("o_orderdate")) === 1995, 1).otherwise(0)).as("a"),
          max(when(year(col("o_orderdate")) === 1996, 1).otherwise(0)).as("b"))
        .agg(sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n_1995_only"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n_1996_only"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n_both"),
          count(lit(1)).as("n_either"),
          Num.round(sum(when(col("a") + col("b") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("symdiff_share"))
    }
  )
}
