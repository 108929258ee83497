package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.TextFunctions.{tokenSet, tokens}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 continuation (SURVEY §2.11l): robust variance testing
  * (Brown–Forsythe), proportion confidence intervals (Wilson), the
  * order→ship latency audit, session-length profiling, incremental
  * delta-vs-base dedup screening, the Naive-Bayes confusion matrix, and
  * a score-reliability (calibration) table.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate; group terms
  * floor-quantized before cross-group sums; one fixed-shape IEEE
  * expression per emitted float, mirrored verbatim in DuckDB; total
  * ORDER BY everywhere.
  */
object Round5cOps {

  val all: Seq[Q] = Seq(

    Q("q_stat_15_levene",
      """WITH c AS (SELECT o_orderpriority AS prio, o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT prio, cents, CAST(row_number() OVER (PARTITION BY prio ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
        |  CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS ng FROM c),
        |m AS (SELECT prio, min(CASE WHEN rn = (ng + 1) // 2 THEN cents END) AS med FROM r GROUP BY 1),
        |dv AS (SELECT c.prio, abs(c.cents - m.med) AS dev FROM c JOIN m ON c.prio = m.prio),
        |g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n, CAST(sum(dev) AS BIGINT) AS s,
        |  sum(dev * dev) AS ss,
        |  CAST(floor(CAST(sum(dev) AS DOUBLE) * CAST(sum(dev) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 10000.0) AS BIGINT) AS t
        | FROM dv GROUP BY 1),
        |w AS (SELECT prio, n, s,
        |  CAST(count(*) OVER () AS BIGINT) AS k,
        |  CAST(sum(n) OVER () AS BIGINT) AS nn,
        |  CAST(sum(s) OVER () AS BIGINT) AS stot,
        |  CAST(sum(t) OVER () AS BIGINT) AS tsum,
        |  CAST(floor(CAST(sum(ss) OVER () AS DOUBLE) / 10000.0) AS BIGINT) AS ssq
        | FROM g),
        |f AS (SELECT prio, n, s, k, nn,
        |  tsum - CAST(floor(CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(nn AS DOUBLE) / 10000.0) AS BIGINT) AS ssb,
        |  ssq - tsum AS ssw
        | FROM w)
        |SELECT f.prio, f.n AS n_g,
        | floor(CAST(m.med AS DOUBLE) / 100 * 100 + 0.5) / 100 AS median_g,
        | floor(CAST(f.s AS DOUBLE) / CAST(f.n AS DOUBLE) / 100 * 100 + 0.5) / 100 AS mean_dev,
        | CASE WHEN f.ssw > 0 THEN floor((CAST(f.ssb AS DOUBLE) / CAST(f.k - 1 AS DOUBLE)) / (CAST(f.ssw AS DOUBLE) / CAST(f.nn - f.k AS DOUBLE)) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS w_stat
        |FROM f JOIN m ON f.prio = m.prio ORDER BY f.prio""".stripMargin) { (s, d) =>
      // Brown–Forsythe test (Levene with the group MEDIAN center): are
      // order-value spreads equal across the 5 priority classes? The
      // companion to q_stat_11's ANOVA — ANOVA compares locations
      // assuming equal variance; this tests that assumption, robustly
      // (median center ⇒ no normality requirement). Each group's center
      // is the exact lower-median order statistic (an integer — no
      // mid-average float); the test is then EXACTLY q_stat_11's ANOVA
      // machinery applied to the integer deviations |x−med|: per-group
      // (n, Σdev BIGINT, Σdev² DECIMAL(38,0)), between-terms
      // floor-quantized to dollars² before the 5-term window sum. Scale:
      // the median rank comes from Pipelines.groupRankPrefix (r13 —
      // the 5-value prio window was a 5-task corpus sort), then one
      // map-side agg.
      val c = Tables(s, d, "orders").select(col("o_orderpriority").as("prio"),
        col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val r = graft.api.Pipelines.groupRankPrefix(c,
        Seq("prio"), Seq(col("cents"), col("o_orderkey")), "rn", "ng")
      val m = r.groupBy("prio")
        .agg(min(when(col("rn") === expr("(ng + 1) div 2"), col("cents"))).as("med"))
      val dv = c.join(broadcast(m), "prio")
        .select(col("prio"), abs(col("cents") - col("med")).as("dev"))
      val g = dv.groupBy("prio").agg(
        count(lit(1)).as("n"), sum("dev").as("s"),
        sum((col("dev") * col("dev")).cast(DecimalType(38, 0))).as("ss"),
        floor(sum("dev").cast("double") * sum("dev").cast("double")
          / count(lit(1)).cast("double") / 10000.0).cast("long").as("t"))
      val wAll = Window.partitionBy()
      val w = g.select(col("prio"), col("n"), col("s"),
        count(lit(1)).over(wAll).as("k"),
        sum("n").over(wAll).as("nn"),
        sum("s").over(wAll).as("stot"),
        sum("t").over(wAll).as("tsum"),
        floor(sum("ss").over(wAll).cast("double") / 10000.0).cast("long").as("ssq"))
      val grand = floor(col("stot").cast("double") * col("stot").cast("double")
        / col("nn").cast("double") / 10000.0).cast("long")
      val f = w.select(col("prio"), col("n"), col("s"), col("k"), col("nn"),
        (col("tsum") - grand).as("ssb"),
        (col("ssq") - col("tsum")).as("ssw"))
      f.join(broadcast(m), "prio")
        .select(col("prio"), col("n").as("n_g"),
          round(col("med").cast("double") / 100, 2).as("median_g"),
          round(col("s").cast("double") / col("n").cast("double") / 100, 2).as("mean_dev"),
          when(col("ssw") > 0,
            round((col("ssb").cast("double") / (col("k") - 1).cast("double"))
              / (col("ssw").cast("double") / (col("nn") - col("k")).cast("double")), 6))
            .otherwise(0.0).as("w_stat"))
        .orderBy("prio")
    },

    Q("q_stat_16_wilson",
      """WITH e AS (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events),
        |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS k FROM e GROUP BY 1)
        |SELECT dow, n, k,
        | floor(CAST(k AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS rate,
        | floor(((CAST(k AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)) - 1.959964 * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n + 1.959964 * 1.959964 / (4.0 * n * n))) / (1 + 1.959964 * 1.959964 / n) * 1000000 + 0.5) / 1000000 AS lo,
        | floor(((CAST(k AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)) + 1.959964 * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n) / n + 1.959964 * 1.959964 / (4.0 * n * n))) / (1 + 1.959964 * 1.959964 / n) * 1000000 + 0.5) / 1000000 AS hi
        |FROM g ORDER BY dow""".stripMargin) { (s, d) =>
      // Wilson 95% confidence interval for the purchase share per
      // day-of-week — the interval estimate a conversion dashboard
      // should show instead of a bare rate (Wilson stays inside [0,1]
      // and behaves at small n, unlike the Wald interval). Day-of-week
      // is computed as (epoch_day + 4) mod 7 (0 = Sunday) in BOTH
      // engines — no dialect dayofweek functions, which disagree on
      // their origin day. Inputs are two exact integers (n, k) per group; the
      // interval is one closed-form IEEE expression with z = 1.959964
      // as a shared literal. Scale: one map-side-combinable agg to 7
      // rows; arithmetic after is constant.
      val z = lit(1.959964)
      val e = Tables(s, d, "events").select(
        ((expr("unix_micros(ts) div 86400000000") + 4) % 7).as("dow"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
      val g = e.groupBy("dow").agg(count(lit(1)).as("n"), sum("pos").cast("long").as("k"))
      val p = col("k").cast("double") / col("n")
      val center = p + z * z / (lit(2) * col("n"))
      val half = z * sqrt(p * (lit(1) - p) / col("n") + z * z / (lit(4.0) * col("n") * col("n")))
      val denom = lit(1) + z * z / col("n")
      g.select(col("dow"), col("n"), col("k"),
        round(p, 6).as("rate"),
        round((center - half) / denom, 6).as("lo"),
        round((center + half) / denom, 6).as("hi"))
        .orderBy("dow")
    },

    Q("q_dq_24_ship_lag",
      """WITH j AS (SELECT date_trunc('month', o.o_orderdate) AS month,
        |  l.l_orderkey, l.l_linenumber,
        |  datediff('day', o.o_orderdate, l.l_shipdate) AS lag_days
        | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |r AS (SELECT month, lag_days, CAST(row_number() OVER (PARTITION BY month ORDER BY lag_days, l_orderkey, l_linenumber) AS BIGINT) AS rn,
        |  CAST(count(*) OVER (PARTITION BY month) AS BIGINT) AS n FROM j),
        |g AS (SELECT month, CAST(max(n) AS BIGINT) AS n, CAST(sum(lag_days) AS BIGINT) AS s,
        |  CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN lag_days END) AS BIGINT) AS p50,
        |  CAST(max(lag_days) AS BIGINT) AS max_lag
        | FROM r GROUP BY 1)
        |SELECT month, n, violations, p50 AS p50_lag_days,
        | floor(CAST(s AS DOUBLE) / n * 100 + 0.5) / 100 AS mean_lag_days, max_lag
        |FROM g ORDER BY month""".stripMargin) { (s, d) =>
      // Order→ship latency audit per order month: exact-median and mean
      // lag in days, the max straggler, and the count of IMPOSSIBLE
      // rows (shipped before ordered) — the cross-table temporal
      // consistency check that per-table profiling (q_dq_1) and key
      // refint (q_dq_2) both miss. Lag is an exact integer calendar-day
      // difference (datediff over DATE casts — the NTZ-safe house
      // pattern; DuckDB's datediff('day', start, end) matches Spark's
      // datediff(end, start) argument order reversed). The median is the
      // exact lower order statistic via per-(month, lag) COUNTS + a
      // grouped prefix sum (Pipelines.groupRankPrefix, r13 — the
      // month-keyed window capped parallelism at the month count and
      // sorted each month's full slice in one task): lag_days has a
      // bounded day-range domain, so after one map-side-combinable
      // aggregate the rank machinery runs over months×lag-domain rows;
      // the rank-r value is the smallest lag whose cumulative count
      // reaches r (ties share the value — rank-deterministic), and the
      // mean/violations/max fold over the same count table. Scale: one
      // fact⋈dim hash join (orders side prunable to the two keyed
      // columns), one keyed aggregate, then the tiny-table prefix.
      val j = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .join(Tables(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(date_trunc("month", col("o_orderdate")).as("month"),
          col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("lag_days"))
      val cnts = j.groupBy("month", "lag_days").agg(count(lit(1)).as("cnt"))
      // the count table is BOUNDED (calendar months × the lag-day
      // domain, ≲ 10⁴ rows at any corpus size), so the per-month
      // cumulative count is a plain window over a bounded table (r14 —
      // the r13 groupRankPrefix call paid a range-sampling job and two
      // RDD passes for it). Identical integers: same total (month,
      // lag) order, order-insensitive integer sums.
      val wc = Window.partitionBy("month").orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = cnts
        .withColumn("cum", sum("cnt").over(wc))
        .withColumn("n", sum("cnt").over(Window.partitionBy("month")))
      r.groupBy("month").agg(
          max("n").as("n"), sum(col("lag_days") * col("cnt")).cast("long").as("s"),
          sum(when(col("lag_days") < 0, col("cnt")).otherwise(0L)).cast("long").as("violations"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("lag_days"))).as("p50"),
          max("lag_days").as("max_lag"))
        .select(col("month"), col("n"), col("violations"), col("p50").as("p50_lag_days"),
          round(col("s").cast("double") / col("n"), 2).as("mean_lag_days"), col("max_lag"))
        .orderBy("month")
    },

    Q("q_stream_16_session_profile",
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
        |x AS (SELECT user_id, ts,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
        |   THEN 1 ELSE 0 END AS brk
        | FROM e),
        |s AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x),
        |sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |  epoch_us(max(ts) - min(ts)) AS span_us FROM s GROUP BY user_id, sid),
        |st AS (SELECT n_events, span_us,
        |  CAST(row_number() OVER (ORDER BY n_events) AS BIGINT) AS rne,
        |  CAST(row_number() OVER (ORDER BY span_us) AS BIGINT) AS rns,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM sess)
        |SELECT CAST(max(n) AS BIGINT) AS n_sessions,
        | CAST(min(CASE WHEN rne = (n + 1) // 2 THEN n_events END) AS BIGINT) AS p50_events,
        | CAST(min(CASE WHEN rne = (9 * n + 9) // 10 THEN n_events END) AS BIGINT) AS p90_events,
        | CAST(min(CASE WHEN rns = (n + 1) // 2 THEN span_us END) AS BIGINT) AS p50_span_us,
        | CAST(min(CASE WHEN rns = (9 * n + 9) // 10 THEN span_us END) AS BIGINT) AS p90_span_us,
        | floor(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / max(n) * 1000000 + 0.5) / 1000000 AS singleton_share
        |FROM st""".stripMargin) { (s, d) =>
      // Session-length profile over q_stream_3's 30-minute sessions:
      // exact p50/p90 order statistics of events-per-session and session
      // span, plus the singleton share (the bounce-rate of event
      // analytics; also the knob that says whether sessionized packing
      // is worth it). Percentiles are exact ⌈q·n⌉-th order statistics
      // (integer ceilings via (n+1)÷2 and (9n+9)÷10 — no interpolation
      // float); the session table itself is the proven session_window
      // batch form, oracle-mirrored by gap-and-island SQL with the same
      // strictly-greater gap rule. Scale: sessions are user-bounded,
      // and the percentiles come from Pipelines.exactRankPick (range-
      // partitioned order statistics) — no one-task sort at any scale.
      val sess = Tables(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), min("ts").as("mn"), max("ts").as("mx"))
        .select(col("n_events"), (unix_micros(col("mx")) - unix_micros(col("mn"))).as("span_us"))
        .localCheckpoint()
      val ranks = (nn: Long) => Seq((nn + 1) / 2, (9 * nn + 9) / 10)
      val (n, pe) = graft.api.Pipelines.exactRankPick(sess, "n_events", ranks)
      val (_, ps) = graft.api.Pipelines.exactRankPick(sess, "span_us", ranks)
      sess.agg(
          count(lit(1)).as("n_sessions"),
          round(sum(when(col("n_events") === 1, 1).otherwise(0)).cast("double")
            / count(lit(1)), 6).as("singleton_share"))
        .select(col("n_sessions"),
          lit(pe((n + 1) / 2)).as("p50_events"),
          lit(pe((9 * n + 9) / 10)).as("p90_events"),
          lit(ps((n + 1) / 2)).as("p50_span_us"),
          lit(ps((9 * n + 9) / 10)).as("p90_span_us"),
          col("singleton_share"))
    },

    Q("q_dedup_12_incremental",
      """WITH h AS (SELECT doc_id, lang, text,
        |  (doc_id % 1000000007) * 2654435761 % 1000000007 % 10 = 0 AS is_new FROM documents),
        |base_ek AS (SELECT DISTINCT md5(lower(trim(text))) AS ek FROM h WHERE NOT is_new),
        |base_nk AS (SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS nk FROM h WHERE NOT is_new),
        |delta AS (SELECT doc_id, lang, md5(lower(trim(text))) AS ek,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS nk
        | FROM h WHERE is_new),
        |fl AS (SELECT d.lang,
        |  CASE WHEN be.ek IS NOT NULL THEN 1 ELSE 0 END AS x,
        |  CASE WHEN bn.nk IS NOT NULL THEN 1 ELSE 0 END AS y
        | FROM delta d LEFT JOIN base_ek be ON d.ek = be.ek LEFT JOIN base_nk bn ON d.nk = bn.nk)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_new,
        | CAST(sum(x) AS BIGINT) AS n_exact_dup,
        | CAST(sum(y) AS BIGINT) AS n_near_dup,
        | floor(CAST(sum(CASE WHEN x = 1 OR y = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS dup_share
        |FROM fl GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
      // Incremental dedup screen: split the corpus into a deterministic
      // ~10% "new batch" (the house stable-id hash, q_text_19's device)
      // and a 90% base, then flag each NEW document that collides with
      // the BASE — exact digest (q_dedup_1's key) and order-insensitive
      // token-set digest (q_dedup_2's key). This is the shape a daily
      // ingest actually runs: never re-pair the base against itself,
      // only probe the delta against base keys. Scale: both probes are
      // digest-keyed left joins (16-byte keys, never the text); the
      // base side is a distinct-key table a bloom/bucketed layout would
      // serve shuffle-free (q_join_17 / q_join_15 machinery); the delta
      // is 10% of the corpus by construction.
      val h = Tables(s, d, "documents").select(col("doc_id"), col("lang"), col("text"),
        (col("doc_id") % 1000000007L * 2654435761L % 1000000007L % 10 === 0).as("is_new"))
        .localCheckpoint()
      val ek = md5(lower(trim(col("text"))))
      val nk = md5(concat_ws(" ", sort_array(tokenSet(col("text")))))
      val baseEk = h.filter(!col("is_new")).select(ek.as("ek")).distinct()
      val baseNk = h.filter(!col("is_new")).select(nk.as("nk")).distinct()
      val delta = h.filter(col("is_new"))
        .select(col("doc_id"), col("lang"), ek.as("ek"), nk.as("nk"))
      val fl = delta
        .join(baseEk.withColumnRenamed("ek", "bek"), col("ek") === col("bek"), "left")
        .join(baseNk.withColumnRenamed("nk", "bnk"), col("nk") === col("bnk"), "left")
        .select(col("lang"),
          when(col("bek").isNotNull, 1).otherwise(0).as("x"),
          when(col("bnk").isNotNull, 1).otherwise(0).as("y"))
      fl.groupBy("lang").agg(
          count(lit(1)).as("n_new"),
          sum("x").cast("long").as("n_exact_dup"),
          sum("y").cast("long").as("n_near_dup"),
          round(sum(when(col("x") === 1 || col("y") === 1, 1).otherwise(0)).cast("double")
            / count(lit(1)), 6).as("dup_share"))
        .orderBy("lang")
    },

    Q("q_ml_3_nb_confusion",
      graft.functions.NbLang.oracleCtes +
      """,
        |langs AS (SELECT DISTINCT lang FROM documents),
        |j AS (SELECT d.lang AS actual, p.pred FROM documents d JOIN p ON p.doc_id = d.doc_id),
        |act AS (SELECT actual, CAST(count(*) AS BIGINT) AS n_actual,
        |  CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT) AS tp FROM j GROUP BY 1),
        |prd AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pred FROM j GROUP BY 1)
        |SELECT l.lang, act.n_actual, COALESCE(prd.n_pred, 0) AS n_pred, act.tp,
        | CASE WHEN COALESCE(prd.n_pred, 0) > 0 THEN floor(CAST(act.tp AS DOUBLE) / prd.n_pred * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS precision,
        | floor(CAST(act.tp AS DOUBLE) / act.n_actual * 1000000 + 0.5) / 1000000 AS recall,
        | floor(CAST(2 * act.tp AS DOUBLE) / (act.n_actual + COALESCE(prd.n_pred, 0)) * 1000000 + 0.5) / 1000000 AS f1
        |FROM langs l JOIN act ON l.lang = act.actual
        |LEFT JOIN prd ON l.lang = prd.pred ORDER BY l.lang""".stripMargin) { (s, d) =>
      // Per-class precision / recall / F1 for the Naive Bayes language
      // classifier — the confusion-matrix readout on top of q_ml_2's
      // accuracy (a class can score high accuracy while its precision
      // collapses; this is the view that shows it). Built on the SAME
      // [[graft.functions.NbLang]] prediction table and oracle CTE
      // chain. F1 uses the exact-integer identity 2TP/(n_actual +
      // n_pred) — no quantized-P/R composition drift. A language never
      // predicted keeps a row (n_pred 0, precision 0, stated). Scale:
      // the prediction table is doc-bounded; everything after is
      // |langs|-row arithmetic.
      val j = graft.functions.NbLang.predictions(s, d)
        .select(col("lang").as("actual"), col("pred")).localCheckpoint()
      val act = j.groupBy("actual").agg(count(lit(1)).as("n_actual"),
        sum(when(col("pred") === col("actual"), 1).otherwise(0)).cast("long").as("tp"))
      val prd = j.groupBy("pred").agg(count(lit(1)).as("n_pred"))
      act.join(prd, col("actual") === col("pred"), "left")
        .select(col("actual").as("lang"), col("n_actual"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("tp"),
          when(coalesce(col("n_pred"), lit(0L)) > 0,
            round(col("tp").cast("double") / col("n_pred"), 6)).otherwise(0.0).as("precision"),
          round(col("tp").cast("double") / col("n_actual"), 6).as("recall"),
          round((col("tp") * 2).cast("double")
            / (col("n_actual") + coalesce(col("n_pred"), lit(0L))), 6).as("f1"))
        .orderBy("lang")
    },

    Q("q_ret_6_reliability",
      """WITH e AS (SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events),
        |b AS (SELECT cents, pos, CAST(ntile(10) OVER (ORDER BY cents, event_id) AS BIGINT) AS decile FROM e),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS k,
        |  CAST(sum(cents) AS BIGINT) AS sc FROM b GROUP BY 1)
        |SELECT decile, n, k,
        | floor(CAST(sc AS DOUBLE) / n / 100 * 10000 + 0.5) / 10000 AS avg_score,
        | floor(CAST(k AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS pos_rate
        |FROM g ORDER BY decile""".stripMargin) { (s, d) =>
      // Score-reliability (calibration) table: decile-bucket the
      // purchase score, then report each bucket's average score against
      // its observed positive rate — the monotonicity/reliability curve
      // that complements q_ret_5's AUC (AUC says the ranking works;
      // this says WHERE it works and whether the score tracks the
      // outcome rate). Deciles come from the builtin-identical ntile
      // over the totally ordered (cents, event_id) stream, computed as
      // Pipelines.exactGlobalRank + ntileOfRank (range-partitioned —
      // no one-task window); per-bucket stats are exact BIGINTs.
      val e = Tables(s, d, "events").select(col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
      val (nE, ranked) = graft.api.Pipelines
        .exactGlobalRank(e, Seq(col("cents"), col("event_id")), "__rk")
      val b = ranked.select(col("cents"), col("pos"),
        graft.api.Pipelines.ntileOfRank(col("__rk"), lit(nE), 10).as("decile"))
      b.groupBy("decile").agg(count(lit(1)).as("n"), sum("pos").cast("long").as("k"),
          sum("cents").cast("long").as("sc"))
        .select(col("decile"), col("n"), col("k"),
          round(col("sc").cast("double") / col("n") / 100, 4).as("avg_score"),
          round(col("k").cast("double") / col("n"), 6).as("pos_rate"))
        .orderBy("decile")
    }
  )
}
