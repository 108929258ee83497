package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11aj): funnel latency, the OR'd
  * EXISTS decorrelation shape, NOT-IN three-valued-logic semantics, and
  * blob byte entropy.
  *
  * Determinism discipline (§2.12): latencies are exact micros with
  * medians as exact order-statistic picks; set counts are integers;
  * entropy terms quantize 1e-6 before per-blob sums.
  */
object Round5aaOps {

  val all: Seq[Q] = Seq(

    // Funnel step latency: median and p90 of the per-user time from
    // first view -> first click -> first purchase — q_stream_6 counts
    // who converts; this says how LONG each hop takes (the number a
    // growth team actually watches).
    Q("q_stream_30_funnel_time",
      """WITH f AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
        | FROM events GROUP BY 1),
        |hops AS (
        | SELECT 'view_to_click' AS hop, t_click - t_view AS gap_us FROM f
        |  WHERE t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view
        | UNION ALL
        | SELECT 'click_to_purchase', t_buy - t_click FROM f
        |  WHERE t_click IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_click),
        |r AS (SELECT hop, gap_us,
        |  row_number() OVER (PARTITION BY hop ORDER BY gap_us, rowid) AS rn,
        |  count(*) OVER (PARTITION BY hop) AS n
        | FROM (SELECT hop, gap_us, row_number() OVER (ORDER BY hop, gap_us) AS rowid FROM hops))
        |SELECT hop, CAST(max(n) AS BIGINT) AS n_users,
        | CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) // 60000000 AS BIGINT) AS median_minutes,
        | CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END) // 60000000 AS BIGINT) AS p90_minutes
        |FROM r GROUP BY hop ORDER BY hop""".stripMargin) { (s, d) =>
      // First-touch times are exact micro mins in ONE events pass; the
      // median/p90 are exact order-statistic PICKS (rank (n+1)/2 and
      // ceil(0.9 n) over the integer gaps) — no interpolation, no float.
      // Minutes truncate by integer division on both engines. The ranks
      // come from Pipelines.groupRankPrefix (r13): the 2-value hop
      // key made the window form a 2-task corpus sort at scale; the
      // range-partitioned form keeps every task ~N/P. The tail is
      // Streams.funnelHopStats, which the online first-touch stream
      // finishes with too.
      graft.streaming.Streams.funnelHopStats(Tables(s, d, "events")
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", expr("unix_micros(ts)"))).as("t_view"),
          min(when(col("event_type") === "click", expr("unix_micros(ts)"))).as("t_click"),
          min(when(col("event_type") === "purchase", expr("unix_micros(ts)"))).as("t_buy")))
    },

    // OR'd EXISTS: orders with a LATE lineitem OR a HEAVILY DISCOUNTED
    // one — the disjunctive-semi-join shape (one semi join can't carry
    // an OR across two correlated predicates; the plan must union two
    // prunes or dedup a widened semi join).
    Q("q_join_21_exists_or",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |   OR EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |              AND l_discount >= 0.09)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Decorrelated as ONE widened semi join: a lineitem qualifies if
      // it is late OR discounted (the late test needs o_orderdate, so
      // the order's cutoff is precomputed and joined in); the semi join
      // dedups per order by construction. The fact is scanned once —
      // not once per EXISTS.
      val o = Tables(s, d, "orders")
        .withColumn("o_cut", col("o_orderdate") + expr("INTERVAL 60 DAY"))
      val l = Tables(s, d, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_discount")
      o.join(l, col("l_orderkey") === col("o_orderkey")
          && (col("l_shipdate") > col("o_cut") || col("l_discount") >= 0.09), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },

    // NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap:
    // a NULL in the subquery list makes NOT IN return UNKNOWN for
    // every row (zero matches), while NOT EXISTS does what people mean.
    Q("q_sub_6_not_in_nulls",
      """WITH nk AS (SELECT CASE WHEN event_type = 'error' THEN NULL
        |  ELSE CAST(json_extract(props, '$.k') AS BIGINT) END AS k FROM events),
        |probe AS (SELECT unnest(range(0, 200)) AS v)
        |SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM probe WHERE v NOT IN (SELECT k FROM nk)) AS not_in_with_nulls,
        | (SELECT CAST(count(*) AS BIGINT) FROM probe WHERE NOT EXISTS (SELECT 1 FROM nk WHERE nk.k = probe.v)) AS not_exists,
        | (SELECT CAST(count(*) AS BIGINT) FROM probe WHERE v NOT IN (SELECT k FROM nk WHERE k IS NOT NULL)) AS not_in_filtered
        |FROM (SELECT 1) one""".stripMargin) { (s, d) =>
      // not_in_with_nulls MUST be 0 (NULL poisons the quantifier);
      // not_exists == not_in_filtered is the correct count. Spark: the
      // NOT IN forms run as null-aware anti joins, NOT EXISTS as a
      // plain left_anti — all three single-pass.
      val nk = Tables(s, d, "events")
        .select(when(col("event_type") === "error", lit(null).cast("long"))
          .otherwise(get_json_object(col("props"), "$.k").cast("long")).as("k"))
        .localCheckpoint()
      val probe = s.range(0, 200).select(col("id").as("v")).localCheckpoint()
      probe.createOrReplaceTempView("__probe5aa")
      nk.createOrReplaceTempView("__nk5aa")
      s.sql("""SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM __probe5aa WHERE v NOT IN (SELECT k FROM __nk5aa)) AS not_in_with_nulls,
        | (SELECT CAST(count(*) AS BIGINT) FROM __probe5aa p WHERE NOT EXISTS (SELECT 1 FROM __nk5aa WHERE k = p.v)) AS not_exists,
        | (SELECT CAST(count(*) AS BIGINT) FROM __probe5aa WHERE v NOT IN (SELECT k FROM __nk5aa WHERE k IS NOT NULL)) AS not_in_filtered""".stripMargin)
    },

    // Blob byte entropy: the direct compressibility measure per PCM
    // blob (q_text_28's gzip ratio is the empirical proxy; Shannon
    // entropy is the bound it converges to), with a low-entropy
    // template flag.
    Q("q_mm_10_byte_entropy",
      """WITH px AS (SELECT doc_id, ascii(substring(text, (i.i % len(text)) + 1, 1)) AS byte
        | FROM documents, (SELECT unnest(range(0, 256)) AS i) i WHERE doc_id < 80),
        |c AS (SELECT doc_id, byte, CAST(count(*) AS BIGINT) AS c FROM px GROUP BY 1, 2),
        |h AS (SELECT doc_id,
        |  CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / 256) * ln(CAST(c AS DOUBLE) / 256) / ln(2.0) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS h6,
        |  CAST(count(*) AS BIGINT) AS n_distinct
        | FROM c GROUP BY 1)
        |SELECT doc_id, h6 / 1000000.0 AS h_bits, n_distinct,
        | CAST(CASE WHEN h6 < 4000000 THEN 1 ELSE 0 END AS BIGINT) AS low_entropy
        |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      // 256-byte frame per blob; per-byte-value −p·log2(p) terms
      // quantize 1e-6 BEFORE the per-blob sum (house entropy pattern);
      // the template flag is an integer threshold on the quantized sum.
      val px = Tables(s, d, "documents").filter(col("doc_id") < 80)
        .select(col("doc_id"), col("text"), explode(sequence(lit(0), lit(255))).as("i"))
        .select(col("doc_id"),
          expr("ascii(substring(text, (i % length(text)) + 1, 1))").as("byte"))
      val c = px.groupBy("doc_id", "byte").agg(count(lit(1)).as("c"))
      val p = col("c").cast("double") / 256
      val h = c.select(col("doc_id"),
          floor(-p * log(p) / log(lit(2.0)) * 1000000 + 0.5).cast("long").as("t6"))
        .groupBy("doc_id")
        .agg(sum("t6").as("h6"), count(lit(1)).as("n_distinct"))
      h.select(col("doc_id"), (col("h6") / 1000000.0).as("h_bits"), col("n_distinct"),
          when(col("h6") < 4000000L, 1L).otherwise(0L).as("low_entropy"))
        .orderBy("doc_id")
    }
  )
}
