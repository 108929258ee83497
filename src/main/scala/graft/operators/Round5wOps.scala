package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11af): analytics odds-and-ends a
  * production engine gets asked for weekly — a length-confound
  * correlation audit, word-length profiles, weighted variance, a
  * correlated-aggregate EXISTS, and year-to-date running shares.
  *
  * Determinism discipline (§2.12): per-doc ratios quantize to integers
  * before any correlation moment; weighted moments accumulate as exact
  * BIGINTs; the EXISTS threshold compares integer cross-products; YTD
  * shares divide exact integer window sums once.
  */
object Round5wOps {

  val all: Seq[Q] = Seq(

    // Length-confound audit: Pearson r between document length and
    // type-token ratio per language — quantifies the Heaps'-law bias
    // that makes raw TTR useless as a quality score (q_text_44 controls
    // it by prefix; this measures how bad the confound actually is).
    Q("q_text_46_ttr_length",
      """WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq FROM documents),
        |q AS (SELECT lang, CAST(n_tok AS BIGINT) AS x,
        |  CAST(floor(CAST(n_uniq AS DOUBLE) / n_tok * 1000000 + 0.5) AS BIGINT) AS y
        | FROM t),
        |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(x * y) AS BIGINT) AS sxy
        | FROM q GROUP BY 1)
        |SELECT lang,
        | floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |  / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |  * 1000000 + 0.5) / 1000000 AS r_len_ttr
        |FROM m ORDER BY lang""".stripMargin) { (s, d) =>
      // Per-doc TTR quantizes to a 1e-6 integer BEFORE the five power
      // sums (q_agg_21's discipline), so the correlation is exact-input
      // IEEE. Expect strongly negative r — that IS the confound.
      val t = Tables(s, d, "documents")
        .select(col("lang"), size(split(col("text"), " ")).as("n_tok"),
          size(array_distinct(split(col("text"), " "))).as("n_uniq"))
      val q = t.select(col("lang"), col("n_tok").cast("long").as("x"),
        floor(col("n_uniq").cast("double") / col("n_tok") * 1000000 + 0.5).cast("long").as("y"))
      val m = q.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      def D(c0: String) = col(c0).cast("double")
      m.select(col("lang"),
          round((D("n") * col("sxy") - D("sx") * col("sy"))
            / sqrt((D("n") * col("sxx") - D("sx") * col("sx"))
              * (D("n") * col("syy") - D("sy") * col("sy"))), 6).as("r_len_ttr"))
        .orderBy("lang")
    },

    // Word-length profile per language: histogram of token lengths
    // (1..10+, bucketed) + mean length — the orthography fingerprint
    // that complements q_text_33's syllable-based readability.
    Q("q_text_47_word_len",
      """WITH w AS (SELECT lang, least(len(tok), 10) AS wl
        | FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |h AS (SELECT lang, CAST(wl AS BIGINT) AS wl, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot, CAST(sum(wl * n) AS BIGINT) AS s FROM h GROUP BY 1)
        |SELECT h.lang, h.wl, h.n,
        | floor(CAST(h.n AS DOUBLE) / t.tot * 1000000 + 0.5) / 1000000 AS share,
        | floor(CAST(t.s AS DOUBLE) / t.tot * 10000 + 0.5) / 10000 AS mean_len
        |FROM h JOIN t ON h.lang = t.lang
        |ORDER BY h.lang, h.wl""".stripMargin) { (s, d) =>
      // One token explode; the histogram and the mean reuse the same
      // (lang, wl) counts — mean = Σ wl·n / Σ n from the AGGREGATE, so
      // the fact never re-scans. Capped at 10 so the output schema is
      // scale-invariant.
      val w = Tables(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .select(col("lang"), least(length(col("tok")), lit(10)).cast("long").as("wl"))
      val h = w.groupBy("lang", "wl").agg(count(lit(1)).as("n"))
      val t = h.groupBy(col("lang").as("tl"))
        .agg(sum("n").as("tot"), sum(col("wl") * col("n")).as("s"))
      h.join(broadcast(t), col("lang") === col("tl"))
        .select(col("lang"), col("wl"), col("n"),
          (floor(col("n").cast("double") / col("tot") * 1000000 + 0.5) / 1000000).as("share"),
          (floor(col("s").cast("double") / col("tot") * 10000 + 0.5) / 10000).as("mean_len"))
        .orderBy("lang", "wl")
    },

    // Frequency-weighted variance: spread of quantity weighted by each
    // row's revenue share — "what spread does a DOLLAR see" vs the
    // row-weighted q_agg_9 (big orders dominate revenue exposure).
    Q("q_agg_38_weighted_var",
      """WITH r AS (SELECT l_returnflag,
        |  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS w,
        |  CAST(l_quantity AS BIGINT) AS x FROM lineitem),
        |m AS (SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS ws,
        |  CAST(sum(w * x) AS BIGINT) AS swx, CAST(sum(w * x * x) AS BIGINT) AS swxx
        | FROM r GROUP BY 1)
        |SELECT l_returnflag,
        | floor(CAST(swx AS DOUBLE) / ws * 10000 + 0.5) / 10000 AS w_mean,
        | floor((CAST(swxx AS DOUBLE) / ws - (CAST(swx AS DOUBLE) / ws) * (CAST(swx AS DOUBLE) / ws)) * 10000 + 0.5) / 10000 AS w_var
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Weights = cents, x integral; w·x² ≤ 1e7·2.5e3 per row — far
      // inside int64.
      val r = Tables(s, d, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("w"),
          col("l_quantity").cast("long").as("x"))
      graft.api.Pipelines.weightedVariance(r, "l_returnflag", "x", "w")
        .orderBy("l_returnflag")
    },

    // Correlated-aggregate EXISTS: customers with at least one order
    // strictly above their OWN mean order value, counted per nation —
    // the decorrelation shape (per-group aggregate feeding a
    // per-row predicate on the same table).
    Q("q_sub_5_exists_agg",
      """WITH o AS (SELECT o_custkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |st AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM o GROUP BY 1),
        |hit AS (SELECT DISTINCT o.o_custkey
        | FROM o JOIN st ON o.o_custkey = st.o_custkey
        | WHERE o.cents * st.n > st.s)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | CAST(sum(CASE WHEN hit.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_above_own_mean
        |FROM customer LEFT JOIN hit ON c_custkey = hit.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // `order > customer's mean` evaluates as cents·n > Σcents — the
      // exact integer cross-product (no division anywhere). The
      // correlated EXISTS decorrelates to one per-customer aggregate
      // joined back on the SAME key partitioning (one shuffle), then a
      // distinct semi-style reduction.
      val o = Tables(s, d, "orders")
        .select(col("o_custkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val st = o.groupBy(col("o_custkey").as("sk")).agg(count(lit(1)).as("n"), sum("cents").as("s"))
      val hit = o.join(st, col("o_custkey") === col("sk"))
        .filter(col("cents") * col("n") > col("s"))
        .select(col("o_custkey").as("hk")).distinct()
      Tables(s, d, "customer")
        .join(hit, col("c_custkey") === col("hk"), "left_outer")
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("hk").isNotNull, 1L).otherwise(0L)).as("n_above_own_mean"))
        .orderBy("nationkey")
    },

    // Year-to-date running share: each month's cumulative share of its
    // year's total revenue — the finance pacing readout ("are we ahead
    // of last year's curve"), one row per (year, month).
    Q("q_win_22_ytd_share",
      """WITH m AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |w AS (SELECT y, mo, cents,
        |  CAST(sum(cents) OVER (PARTITION BY y ORDER BY mo) AS BIGINT) AS ytd,
        |  CAST(sum(cents) OVER (PARTITION BY y) AS BIGINT) AS yr
        | FROM m)
        |SELECT y, mo,
        | floor(CAST(cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS month_rev,
        | floor(CAST(ytd AS DOUBLE) / yr * 1000000 + 0.5) / 1000000 AS ytd_share
        |FROM w ORDER BY y, mo""".stripMargin) { (s, d) =>
      // Both window sums are exact integer cents over the ≤12-row
      // month aggregate per year; the share is one division. The fact
      // aggregates FIRST (map-side combinable) — windows never see it.
      val m = Tables(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      val cum = Window.partitionBy("y").orderBy("mo")
      val all = Window.partitionBy("y")
      m.select(col("y"), col("mo"),
          round(col("cents").cast("double") / 100, 2).as("month_rev"),
          (floor(sum("cents").over(cum).cast("double") / sum("cents").over(all) * 1000000 + 0.5)
            / 1000000).as("ytd_share"))
        .orderBy("y", "mo")
    }
  )
}
