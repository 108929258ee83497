package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11n): volatility banding (Bollinger),
  * market-concentration (HHI), count-dispersion testing, effect sizes
  * (Cohen's d / Hedges' g), token burstiness, funnel time-to-convert,
  * and directed-graph reciprocity.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * squares that can outgrow int64 ride DECIMAL(38,0)/HUGEINT; one
  * fixed-shape IEEE expression per emitted float, mirrored verbatim in
  * DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5eOps {

  // 2-sigma half-width of the 7-day rolling sample std, in cents —
  // shared between the three band columns and the outside flag.
  private val bollBandSql =
    "2 * sqrt((CAST(k AS DOUBLE) * ss - CAST(s AS DOUBLE) * s) / (CAST(k AS DOUBLE) * k * (k - 1)))"

  val all: Seq[Q] = Seq(

    Q("q_win_12_bollinger",
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
         | FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |w AS (SELECT day, cents,
         |  CAST(count(*) OVER win AS BIGINT) AS k,
         |  CAST(sum(cents) OVER win AS BIGINT) AS s,
         |  CAST(sum(cents * cents) OVER win AS BIGINT) AS ss
         | FROM d WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         |SELECT CAST(day AS BIGINT) AS day,
         | floor(CAST(cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS daily_value,
         | floor(CAST(s AS DOUBLE) / k / 100 * 100 + 0.5) / 100 AS mid,
         | floor((CAST(s AS DOUBLE) / k - $bollBandSql) / 100 * 100 + 0.5) / 100 AS lower_band,
         | floor((CAST(s AS DOUBLE) / k + $bollBandSql) / 100 * 100 + 0.5) / 100 AS upper_band,
         | CAST(CASE WHEN CAST(cents AS DOUBLE) < CAST(s AS DOUBLE) / k - $bollBandSql
         |   OR CAST(cents AS DOUBLE) > CAST(s AS DOUBLE) / k + $bollBandSql THEN 1 ELSE 0 END AS BIGINT) AS outside
         |FROM w WHERE k = 7 ORDER BY day""".stripMargin) { (s, d) =>
      // Bollinger bands on daily purchase revenue — the volatility-aware
      // envelope that complements q_dq_10's fixed z-score rolling
      // anomaly (the band width ADAPTS to local volatility). The corpus
      // collapses to one row per day first.
      val day = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.bollingerBands(day, "day", "cents")
        .orderBy("day")
    },

    Q("q_agg_34_hhi",
      """WITH r AS (SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
        |  CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS rev
        | FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |su AS (SELECT nk, sk, CAST(sum(rev) AS BIGINT) AS s FROM r GROUP BY 1, 2),
        |g AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_sup, CAST(sum(s) AS BIGINT) AS tot,
        |  sum(CAST(s AS HUGEINT) * s) AS sumsq, CAST(max(s) AS BIGINT) AS mx FROM su GROUP BY 1)
        |SELECT n.n_name AS nation, n_sup, tot AS revenue_cents,
        | floor(CAST(sumsq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS hhi,
        | floor(CAST(mx AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS top_share
        |FROM g JOIN nation n ON g.nk = n.n_nationkey ORDER BY nation""".stripMargin) { (s, d) =>
      // Herfindahl–Hirschman concentration of supplier revenue within
      // each nation — the market-structure readout behind "is one
      // supplier a single point of failure"; on corpora the same
      // statistic is per-source domination (q_text_29's caps pick the
      // threshold; HHI scores the before/after). The supplier dim
      // broadcasts onto the fact; everything after the first agg is tiny.
      val r = Tables(s, d, "lineitem")
        .select(col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("long").as("rev"))
        .join(broadcast(Tables(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
      graft.api.Pipelines.hhi(r, "s_nationkey", "l_suppkey", "rev")
        .join(broadcast(Tables(s, d, "nation").select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_keys").as("n_sup"),
          col("total").as("revenue_cents"), col("hhi"), col("top_share"))
        .orderBy("nation")
    },

    Q("q_stat_18_dispersion",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS c
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss FROM d)
        |SELECT n AS n_days,
        | floor(CAST(s AS DOUBLE) / n * 100 + 0.5) / 100 AS mean_count,
        | floor((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1)) * 10000 + 0.5) / 10000 AS var_count,
        | floor((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s) / ((CAST(n AS DOUBLE) - 1) * s) * 1000000 + 0.5) / 1000000 AS dispersion,
        | floor((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s) / CAST(s AS DOUBLE) * 1000000 + 0.5) / 1000000 AS chi2,
        | CAST(CASE WHEN n * ss - s * s > s * (n - 1) THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
        |FROM g""".stripMargin) { (s, d) =>
      // Poisson dispersion test on daily purchase counts: the
      // variance/mean ratio D and its χ² form (n−1)·D — "is arrival
      // clumpier than Poisson", the distributional sharpening of
      // q_stat_12's runs test (runs sees order, D sees magnitude). All
      // sufficient statistics are exact BIGINTs off the collapsed day
      // table; D and χ² are single IEEE expressions, and the
      // overdispersed verdict is an EXACT integer cross-multiplication
      // (n·Σc²−S² > S·(n−1) ⟺ D>1 — no float threshold; int64-safe to
      // ~3e9 events/day·3650 days, recheck beyond). Scale: map-side
      // count agg to one row per day, then a 3-number reduction.
      val day = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
      val g = day.agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("ss"))
      val nD = col("n").cast("double")
      val num = nD * col("ss") - col("s").cast("double") * col("s")
      g.select(col("n").as("n_days"),
        round(col("s").cast("double") / col("n"), 2).as("mean_count"),
        round(num / (nD * (col("n") - 1)), 4).as("var_count"),
        round(num / ((nD - 1) * col("s")), 6).as("dispersion"),
        round(num / col("s").cast("double"), 6).as("chi2"),
        when(col("n") * col("ss") - col("s") * col("s") > col("s") * (col("n") - 1), 1L)
          .otherwise(0L).as("overdispersed"))
    },

    Q("q_stat_19_cohen_d",
      """WITH e AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events WHERE event_type IN ('purchase', 'click')),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss FROM e GROUP BY 1),
        |p AS (SELECT
        |  max(CASE WHEN event_type = 'purchase' THEN n END) AS n1, max(CASE WHEN event_type = 'purchase' THEN s END) AS s1, max(CASE WHEN event_type = 'purchase' THEN ss END) AS ss1,
        |  max(CASE WHEN event_type = 'click' THEN n END) AS n0, max(CASE WHEN event_type = 'click' THEN s END) AS s0, max(CASE WHEN event_type = 'click' THEN ss END) AS ss0
        | FROM g)
        |SELECT n1, n0,
        | floor(CAST(s1 AS DOUBLE) / n1 / 100 * 100 + 0.5) / 100 AS mean_1,
        | floor(CAST(s0 AS DOUBLE) / n0 / 100 * 100 + 0.5) / 100 AS mean_0,
        | floor((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |  / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0)) / (n1 + n0 - 2)) * 1000000 + 0.5) / 1000000 AS cohen_d,
        | floor((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |  / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0)) / (n1 + n0 - 2))
        |  * (1 - 3.0 / (4.0 * (n1 + n0) - 9)) * 1000000 + 0.5) / 1000000 AS hedges_g
        |FROM p""".stripMargin) { (s, d) =>
      // Effect size purchase-vs-click value — the magnitude readout
      // q_stat_8's Welch t deliberately is not (t says "is there a
      // difference", d says "does it matter").
      val e = Tables(s, d, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("x"))
      graft.api.Pipelines.effectSize(e, "x", "event_type", "purchase", "click")
    },

    Q("q_text_37_burstiness",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |r AS (SELECT tok, tf, df, CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rnk FROM c)
        |SELECT r.rnk, r.tok, r.tf, r.df,
        | floor(CAST(r.tf AS DOUBLE) / r.df * 10000 + 0.5) / 10000 AS burstiness,
        | floor(ln(CAST(n.n_docs + 1 AS DOUBLE) / (r.df + 1)) * 1000000 + 0.5) / 1000000 AS idf
        |FROM r, n WHERE r.rnk <= 20 ORDER BY r.rnk""".stripMargin) { (s, d) =>
      // Church–Gale burstiness for the 20 highest-frequency tokens:
      // tf/df = mean occurrences per CONTAINING document. A function
      // word has burstiness ≈ tf/n_docs (everywhere, evenly); a bursty
      // topical term concentrates (high tf/df at low df) — the signal
      // that separates "frequent because grammar" from "frequent
      // because boilerplate/topic", which raw top-k (q_text_31) can't.
      // tf and df are exact integer counts off one exploded scan (df is
      // an exact distinct — the vocab table is corpus-bounded);
      // burstiness is an exact rational, idf the one quantized ln.
      // Scale: token-keyed agg; the top-20 rank runs on the vocab
      // table, TakeOrdered-sized.
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val c = t.groupBy("tok").agg(count(lit(1)).as("tf"),
        countDistinct("doc_id").as("df"))
      val nDocs = Tables(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      // TakeOrdered top-20 (distributed per-partition heads), then the
      // rank window runs over just those 20 rows — never over the vocab
      val r = c.orderBy(col("tf").desc, col("tok")).limit(20)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("tf").desc, col("tok"))).cast("long"))
      r.crossJoin(broadcast(nDocs))
        .select(col("rnk"), col("tok"), col("tf"), col("df"),
          round(col("tf").cast("double") / col("df"), 4).as("burstiness"),
          round(log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6).as("idf"))
        .orderBy("rnk")
    },

    Q("q_stream_19_time_to_convert",
      """WITH st AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_first_purchase
        | FROM events GROUP BY user_id),
        |conv AS (SELECT user_id, t_first_purchase - t_signup AS gap_us FROM st
        |  WHERE t_signup IS NOT NULL AND t_first_purchase IS NOT NULL AND t_first_purchase > t_signup),
        |r AS (SELECT user_id, gap_us, CAST(row_number() OVER (ORDER BY gap_us, user_id) AS BIGINT) AS rn,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM conv)
        |SELECT CAST(max(n) AS BIGINT) AS n_converted,
        | floor(CAST(sum(gap_us) AS DOUBLE) / max(n) / 60000000 * 100 + 0.5) / 100 AS mean_gap_min,
        | CAST(min(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) // 1000000 AS BIGINT) AS p50_gap_s,
        | CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END) // 1000000 AS BIGINT) AS p90_gap_s
        |FROM r""".stripMargin) { (s, d) =>
      // Funnel LATENCY: signup → first subsequent purchase, per user —
      // mean and exact p50/p90 of the conversion gap. q_stream_6 counts
      // who converts; this says how long conversion takes (the number
      // that sizes attribution windows — q_stream_17's lookback — and
      // re-engagement timing). Stage timestamps come from the same
      // one-pass conditional-min agg as the funnel (no self-join);
      // gaps are exact integer µs; percentiles are exact ⌈q·n⌉-th
      // order statistics over the converted-user table (q_stream_16's
      // integer-ceiling device), picked by Pipelines.exactRankPick —
      // range-partitioned, never a one-task sort of the user table.
      val st = Tables(s, d, "events").groupBy("user_id").agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts")))).as("t_signup"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("t_first_purchase"))
      val conv = st.filter(col("t_signup").isNotNull && col("t_first_purchase").isNotNull
          && col("t_first_purchase") > col("t_signup"))
        .select(col("user_id"), (col("t_first_purchase") - col("t_signup")).as("gap_us"))
        .localCheckpoint()
      val (n, picks) = graft.api.Pipelines.exactRankPick(conv, "gap_us",
        nn => Seq((nn + 1) / 2, (9 * nn + 9) / 10))
      conv.agg(count(lit(1)).as("n_converted"),
          round(sum("gap_us").cast("double") / count(lit(1)) / 60000000L, 2).as("mean_gap_min"))
        .select(col("n_converted"), col("mean_gap_min"),
          lit(picks((n + 1) / 2) / 1000000L).as("p50_gap_s"),
          lit(picks((9 * n + 9) / 10) / 1000000L).as("p90_gap_s"))
    },

    Q("q_graph_10_reciprocity",
      """WITH e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 50 = 0),
        |rc AS (SELECT e.src, e.dst FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src),
        |nn AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_nodes FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
        |m AS (SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM rc) AS BIGINT) AS n_recip)
        |SELECT n_nodes, n_edges, n_recip,
        | floor(CAST(n_recip AS DOUBLE) / n_edges * 1000000 + 0.5) / 1000000 AS reciprocity
        |FROM m, nn""".stripMargin) { (s, d) =>
      // Directed-graph reciprocity on the sampled supplier-precedence
      // graph (src fills an earlier line than dst within an order,
      // distinct ordered pairs): the share of edges whose reverse also
      // exists — mutual-relationship density, the directed complement
      // of q_graph_8's assortativity (flow hierarchy vs mutuality).
      // The reverse test is ONE hash self-join of the distinct edge
      // list on the swapped key (each edge is unique, so the join
      // count IS the reciprocal-edge count — no dedup after). All
      // outputs exact integers + one rational. Scale: edges are
      // per-order pair enumerations (O(Σ lines²) on the sampled
      // orders); the reverse join shuffles edge keys once.
      val li = Tables(s, d, "lineitem").filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber") &&
            col("a.l_suppkey") =!= col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
        .distinct()
        .localCheckpoint()
      val nRecip = e.join(e.select(col("src").as("rsrc"), col("dst").as("rdst")),
          col("dst") === col("rsrc") && col("src") === col("rdst"))
        .agg(count(lit(1)).as("n_recip"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      val nNodes = e.select(col("src").as("v")).union(e.select(col("dst").as("v")))
        .agg(countDistinct("v").as("n_nodes"))
      nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nRecip))
        .select(col("n_nodes"), col("n_edges"), col("n_recip"),
          round(col("n_recip").cast("double") / col("n_edges"), 6).as("reciprocity"))
    }
  )
}
