package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bi): decontamination pricing, a
  * behavioral bot screen, calendar-normalized month ranking, and the
  * existential mark-join profile.
  *
  * Determinism discipline (§2.12): every screen rule is a
  * cross-multiplied integer predicate; day counts come from shared
  * calendar functions (last_day on both engines); ratios quantize 1e-6
  * at emission.
  */
object Round7iOps {

  val all: Seq[Q] = Seq(

    // Decontamination cost: q_text_12 flags training docs whose
    // trigram overlap with the benchmark (doc_id < 5) exceeds 5%;
    // this prices REMOVING them — docs and tokens lost per source.
    // The flag is cheap; the budget meeting wants the bill.
    Q("q_pipe_10_decontam_cost",
      """WITH bench AS (
        | SELECT DISTINCT unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
        | FROM documents WHERE doc_id < 5),
        |docsh AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) AS sh
        | FROM documents WHERE doc_id >= 5),
        |tot AS (SELECT doc_id, count(*) AS n_sh FROM docsh GROUP BY doc_id),
        |hit AS (SELECT d.doc_id, count(*) AS n_hit FROM docsh d JOIN bench b ON d.sh = b.sh GROUP BY d.doc_id),
        |fl AS (SELECT tot.doc_id,
        |  CASE WHEN CAST(coalesce(hit.n_hit, 0) AS DOUBLE) / tot.n_sh > 0.05 THEN 1 ELSE 0 END AS bad
        | FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(fl.bad) AS BIGINT) AS n_flagged,
        | CAST(sum(d.n_chars // 5) AS BIGINT) AS tokens_total,
        | CAST(sum(CASE WHEN fl.bad = 1 THEN d.n_chars // 5 ELSE 0 END) AS BIGINT) AS tokens_lost,
        | floor(CAST(sum(CASE WHEN fl.bad = 1 THEN d.n_chars // 5 ELSE 0 END) AS DOUBLE)
        |   / sum(d.n_chars // 5) * 1000000 + 0.5) / 1000000 AS loss_share
        |FROM documents d JOIN fl ON d.doc_id = fl.doc_id
        |WHERE d.doc_id >= 5
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      // Same broadcast benchmark-shingle probe as q_text_12 (doc_id < 5
      // stands in for the eval suite).
      val docs = Tables(s, d, "documents").localCheckpoint()
      graft.api.Pipelines.decontaminationCost(docs.filter(col("doc_id") >= 5), "doc_id", "source",
          "text", expr("n_chars div 5"), docs.filter(col("doc_id") < 5))
        .orderBy("source")
    },

    // Behavioral bot screen: four integer-predicate rules per user —
    // heavy (≥75 events), dense (>1.01 events/active-minute,
    // cross-multiplied), bursty (≥2 events in one minute), nocturnal
    // (>30% of events in hours 0–5 UTC) — with per-rule prevalence and
    // multi-fail count. The q_text_57 rule-matrix idea applied to the
    // BEHAVIOR stream (data cleaning needs both).
    Q("q_stream_40_bot_screen",
      """WITH e AS (SELECT user_id, epoch_us(ts) // 60000000 AS minute_id,
        |  CASE WHEN (epoch_us(ts) // 3600000000) % 24 < 6 THEN 1 ELSE 0 END AS night
        | FROM events),
        |pm AS (SELECT user_id, minute_id, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS mins, CAST(max(c) AS BIGINT) AS maxmin
        | FROM pm GROUP BY 1),
        |nn AS (SELECT user_id, CAST(sum(night) AS BIGINT) AS n_night FROM e GROUP BY 1),
        |f AS (SELECT u.user_id,
        |  CASE WHEN u.n >= 75 THEN 1 ELSE 0 END AS r_heavy,
        |  CASE WHEN 100 * u.n > 101 * u.mins THEN 1 ELSE 0 END AS r_dense,
        |  CASE WHEN u.maxmin >= 2 THEN 1 ELSE 0 END AS r_burst,
        |  CASE WHEN 10 * nn.n_night > 3 * u.n THEN 1 ELSE 0 END AS r_night
        | FROM u JOIN nn ON u.user_id = nn.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(r_heavy) AS BIGINT) AS n_heavy,
        | CAST(sum(r_dense) AS BIGINT) AS n_dense,
        | CAST(sum(r_burst) AS BIGINT) AS n_burst,
        | CAST(sum(r_night) AS BIGINT) AS n_night,
        | CAST(sum(CASE WHEN r_heavy + r_dense + r_burst + r_night >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
        | floor(CAST(sum(CASE WHEN r_heavy + r_dense + r_burst + r_night = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS clean_share
        |FROM f""".stripMargin) { (s, d) =>
      // Per-user state is three exact integers off one minute-grain
      // pre-aggregate (map-side combinable); every rule cross-
      // multiplies, so no float enters a flag.
      val e = Tables(s, d, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 60000000").as("minute_id"),
          when(expr("(unix_micros(ts) div 3600000000) % 24") < 6, 1L)
            .otherwise(0L).as("night"))
        .localCheckpoint()
      val pm = e.groupBy("user_id", "minute_id").agg(count(lit(1)).as("c"))
      val u = pm.groupBy("user_id")
        .agg(sum("c").as("n"), count(lit(1)).as("mins"), max("c").as("maxmin"))
      val nn = e.groupBy("user_id").agg(sum("night").as("n_night"))
      val f = u.join(nn, "user_id").select(
        when(col("n") >= 75, 1L).otherwise(0L).as("r_heavy"),
        when(col("n") * 100 > col("mins") * 101, 1L).otherwise(0L).as("r_dense"),
        when(col("maxmin") >= 2, 1L).otherwise(0L).as("r_burst"),
        when(col("n_night") * 10 > col("n") * 3, 1L).otherwise(0L).as("r_night"))
      val fails = col("r_heavy") + col("r_dense") + col("r_burst") + col("r_night")
      f.agg(count(lit(1)).as("n_users"),
        sum("r_heavy").as("n_heavy"), sum("r_dense").as("n_dense"),
        sum("r_burst").as("n_burst"), sum("r_night").as("n_night"),
        sum(when(fails >= 2, 1L).otherwise(0L)).as("n_multi"),
        Num.round(sum(when(fails === 0, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("clean_share"))
    },

    // Calendar-normalized month ranking: revenue per CALENDAR DAY vs
    // raw monthly revenue, and how much the month's rank moves once
    // February stops being penalized for being short — the
    // normalization step every monthly KPI needs and almost none get.
    Q("q_time_24_month_norm",
      """WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |  CAST(max(date_part('day', last_day(CAST(o_orderdate AS DATE)))) AS BIGINT) AS cal_days,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1),
        |r AS (SELECT ym, cal_days, cents,
        |  CAST(row_number() OVER (ORDER BY cents DESC, ym) AS BIGINT) AS rank_raw,
        |  CAST(row_number() OVER (ORDER BY cents * 1000 // cal_days DESC, ym) AS BIGINT) AS rank_adj
        | FROM m)
        |SELECT ym, cal_days,
        | floor(CAST(cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS revenue,
        | floor(CAST(cents * 1000 // cal_days AS DOUBLE) / 100000 * 100 + 0.5) / 100 AS rev_per_day,
        | rank_raw, rank_adj, CAST(rank_raw - rank_adj AS BIGINT) AS rank_shift
        |FROM r ORDER BY ym""".stripMargin) { (s, d) =>
      // Per-day rate ranks on the exact integer cents·1000/cal_days
      // (integer floor-division — identical on both engines for
      // positive values); two rank windows over the |months|-row table.
      val m = Tables(s, d, "orders")
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("ym"))
        .agg(max(dayofmonth(last_day(col("o_orderdate").cast("date")))).cast("long")
          .as("cal_days"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      val rate = expr("cents * 1000 div cal_days")
      m.select(col("ym"), col("cal_days"), col("cents"), rate.as("rate3"))
        .withColumn("rank_raw", row_number()
          .over(Window.orderBy(col("cents").desc, col("ym"))).cast("long"))
        .withColumn("rank_adj", row_number()
          .over(Window.orderBy(col("rate3").desc, col("ym"))).cast("long"))
        .select(col("ym"), col("cal_days"),
          Num.round(col("cents").cast("double") / 100, 2).as("revenue"),
          Num.round(col("rate3").cast("double") / 100000, 2).as("rev_per_day"),
          col("rank_raw"), col("rank_adj"),
          (col("rank_raw") - col("rank_adj")).as("rank_shift"))
        .orderBy("ym")
    },

    // Mark-join existence profile: per order priority, how many orders
    // contain at least one near-max-quantity line (EXISTS flag
    // projected, not filtered) — the existential-flag shape that DuckDB
    // plans as a MARK join and Spark as a semi-join-derived flag; a
    // WHERE EXISTS (q_sub_5) throws the negative rows away, this keeps
    // both sides and counts them.
    Q("q_join_23_mark",
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_with_bigline,
        | floor(CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |  THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS big_share
        |FROM orders o GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // The flag side reduces to DISTINCT qualifying orderkeys before
      // the join (aggregate-below-join), so the left join is 1:≤1 and
      // the flag is a null-check — no fan-out, no DISTINCT after.
      val big = Tables(s, d, "lineitem")
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("bk")).distinct()
      Tables(s, d, "orders")
        .join(big, col("o_orderkey") === col("bk"), "left_outer")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("bk").isNotNull, 1L).otherwise(0L)).as("n_with_bigline"),
          Num.round(sum(when(col("bk").isNotNull, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("big_share"))
        .orderBy("o_orderpriority")
    }
  )
}
