package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11al): reporting ratios and
  * provenance — share-of-parent OLAP rollups, Pareto concentration,
  * moving-average crossover detection, and duplicate first-seen
  * attribution.
  *
  * Determinism discipline (§2.12): shares are single IEEE ratios of
  * exact cents; the Pareto threshold and crossover sign are integer
  * cross-multiplications; first-seen attribution picks min ids.
  */
object Round5acOps {

  val all: Seq[Q] = Seq(

    // Share-of-parent: each (region, nation) revenue with its share of
    // the region AND of the grand total — the ratio-to-parent column
    // every OLAP report adds to a rollup (q_agg_5 gives the levels;
    // this wires the levels together).
    Q("q_agg_40_share_of_parent",
      """WITH rev AS (SELECT r.r_name AS region, n.n_name AS nation,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders o, customer c, nation n, region r
        | WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey
        |  AND n.n_regionkey = r.r_regionkey
        | GROUP BY 1, 2),
        |reg AS (SELECT region, CAST(sum(cents) AS BIGINT) AS rc FROM rev GROUP BY 1),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tc FROM rev)
        |SELECT rev.region, rev.nation,
        | floor(CAST(rev.cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS revenue,
        | floor(CAST(rev.cents AS DOUBLE) / reg.rc * 1000000 + 0.5) / 1000000 AS share_of_region,
        | floor(CAST(rev.cents AS DOUBLE) / tot.tc * 1000000 + 0.5) / 1000000 AS share_of_total
        |FROM rev, reg, tot WHERE rev.region = reg.region
        |ORDER BY rev.region, rev.nation""".stripMargin) { (s, d) =>
      // One fact aggregation; the region and grand totals derive from
      // the AGGREGATE (25 rows) — the fact is never re-scanned per level.
      val rev = Tables(s, d, "orders")
        .join(broadcast(Tables(s, d, "customer").select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.shareOfParent(
          rev.select(col("region"), col("nation"),
            round(col("cents").cast("double") / 100, 2).as("revenue"), col("cents")),
          "region", "cents")
        .select(col("region"), col("nation"), col("revenue"),
          col("share_of_parent").as("share_of_region"), col("share_of_total"))
        .orderBy("region", "nation")
    },

    // Pareto concentration: the smallest number of customers covering
    // 80% of each region's revenue — the inverse readout of the Lorenz
    // curve (q_agg_35 plots the curve; this answers "how few customers
    // ARE the business").
    Q("q_win_25_pareto",
      """WITH cust AS (SELECT r.r_name AS region, c.c_custkey,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders o, customer c, nation n, region r
        | WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey
        |  AND n.n_regionkey = r.r_regionkey
        | GROUP BY 1, 2),
        |rk AS (SELECT region, cents,
        |  CAST(sum(cents) OVER (PARTITION BY region ORDER BY cents DESC, c_custkey) AS BIGINT) AS cum,
        |  CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT) AS tot,
        |  row_number() OVER (PARTITION BY region ORDER BY cents DESC, c_custkey) AS rn,
        |  count(*) OVER (PARTITION BY region) AS n
        | FROM cust)
        |SELECT region, CAST(min(n) AS BIGINT) AS n_customers,
        | CAST(min(CASE WHEN 5 * cum >= 4 * tot THEN rn END) AS BIGINT) AS top_n_for_80pct,
        | floor(CAST(min(CASE WHEN 5 * cum >= 4 * tot THEN rn END) AS DOUBLE) / min(n) * 1000000 + 0.5) / 1000000 AS customer_share
        |FROM rk GROUP BY region ORDER BY region""".stripMargin) { (s, d) =>
      val cust = Tables(s, d, "orders")
        .join(broadcast(Tables(s, d, "customer").select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("c_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.pareto(cust, "region", "c_custkey", "cents")
        .select(col("region"), col("n_ids").as("n_customers"),
          col("top_n").as("top_n_for_80pct"), col("id_share").as("customer_share"))
        .orderBy("region")
    },

    // SMA crossover detection: days where the 5-day moving average of
    // revenue crosses the 20-day — the golden/death-cross regime-change
    // signal, decided on exact integers (4·s5 vs s20 — the ×20 LCM
    // form, so no float division decides a crossing).
    Q("q_time_18_sma_cross",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS dday,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT dday,
        |  CAST(sum(cents) OVER (ORDER BY dday ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS s5,
        |  CAST(count(*) OVER (ORDER BY dday ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS k5,
        |  CAST(sum(cents) OVER (ORDER BY dday ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS s20,
        |  CAST(count(*) OVER (ORDER BY dday ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS k20
        | FROM day),
        |sig AS (SELECT dday, 4 * s5 - s20 AS diff,
        |  lag(4 * s5 - s20) OVER (ORDER BY dday) AS prev
        | FROM w WHERE k5 = 5 AND k20 = 20)
        |SELECT CAST(dday AS BIGINT) AS day,
        | CAST(CASE WHEN prev <= 0 AND diff > 0 THEN 1 ELSE -1 END AS BIGINT) AS direction
        |FROM sig WHERE (prev <= 0 AND diff > 0) OR (prev > 0 AND diff <= 0)
        |ORDER BY day""".stripMargin) { (s, d) =>
      val day = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("dday"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.smaCrossovers(day, "dday", "cents")
        .orderBy("day")
    },

    // Duplicate first-seen attribution: per source, how many of its
    // docs are LATER near-copies of content another source (or itself)
    // had first — the "who copies whom" provenance readout that decides
    // which feed to dedup against which. Keyed on the token-SET digest
    // (q_dedup_2's near-dup key: exact-text dups don't exist below
    // sf0.1, near-dups exist at every SF).
    Q("q_dedup_23_first_seen",
      """WITH c AS (SELECT doc_id, source,
        |  md5(list_aggregate(list_sort(list_distinct(string_split(text, ' '))), 'string_agg', ' ')) AS dg
        | FROM documents),
        |first AS (SELECT dg, CAST(min(doc_id) AS BIGINT) AS first_id FROM c GROUP BY 1),
        |fs AS (SELECT c.dg, c2.source AS first_source
        | FROM first JOIN c c2 ON first.first_id = c2.doc_id, c WHERE c.dg = first.dg
        | GROUP BY 1, 2),
        |later AS (SELECT c.source AS copier, fs.first_source,
        |  CAST(count(*) AS BIGINT) AS n_copies
        | FROM c JOIN first ON c.dg = first.dg AND c.doc_id > first.first_id
        | JOIN fs ON c.dg = fs.dg
        | GROUP BY 1, 2)
        |SELECT copier, first_source, n_copies
        |FROM later ORDER BY n_copies DESC, copier, first_source LIMIT 20""".stripMargin) { (s, d) =>
      // First-seen = exact min doc_id per digest (ingest-order proxy,
      // stated); the copier×origin matrix is digest-keyed joins only —
      // text never shuffles twice.
      val c = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("dg"))
        .localCheckpoint()
      val first = c.groupBy("dg").agg(min("doc_id").as("first_id"))
      val fs = first.join(c.select(col("doc_id"), col("source").as("first_source")),
          col("first_id") === col("doc_id"))
        .select(col("dg").as("fdg"), col("first_source"))
      val later = c.join(first.withColumnRenamed("dg", "jdg"),
          col("dg") === col("jdg") && col("doc_id") > col("first_id"))
        .join(fs, col("dg") === col("fdg"))
        .groupBy(col("source").as("copier"), col("first_source"))
        .agg(count(lit(1)).as("n_copies"))
      later.orderBy(col("n_copies").desc, col("copier"), col("first_source")).limit(20)
    }
  )
}
