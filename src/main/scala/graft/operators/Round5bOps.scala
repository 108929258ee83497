package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.TextFunctions.tokens
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11k): classifier evaluation (AUC-ROC
  * via the rank-sum identity, Naive-Bayes language ID), the rank-based
  * k-group location test (Kruskal–Wallis), a moments-based normality
  * test (Jarque–Bera), local clustering coefficients, time-weighted
  * averaging, and per-document keyphrase extraction.
  *
  * Determinism discipline (§2.12, unchanged): every aggregate feeding a
  * float is an exact BIGINT sufficient statistic; per-row transcendental
  * contributions are quantized to 1e-9 integers BEFORE any order-free
  * sum; each emitted float is ONE fixed-shape IEEE expression mirrored
  * verbatim in the DuckDB oracle; every result ends in a total ORDER BY.
  */
object Round5bOps {

  val all: Seq[Q] = Seq(

    Q("q_ret_5_auc",
      """WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events),
        |w AS (SELECT pos, CAST(2 * rank() OVER (ORDER BY cents) + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS r2 FROM e),
        |a AS (SELECT CAST(sum(pos) AS BIGINT) AS n1, CAST(sum(1 - pos) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END) AS BIGINT) AS r12 FROM w)
        |SELECT n1 AS n_pos, n0 AS n_neg,
        | floor(CAST(r12 - n1 * (n1 + 1) AS DOUBLE) / (2.0 * n1 * n0) * 1000000 + 0.5) / 1000000 AS auc,
        | floor((CAST(r12 - n1 * (n1 + 1) AS DOUBLE) / (1.0 * n1 * n0) - 1) * 1000000 + 0.5) / 1000000 AS gini
        |FROM a""".stripMargin) { (s, d) =>
      // AUC-ROC of `value` as a purchase-vs-rest score, via the exact
      // rank-sum identity AUC = (R₁ − n₁(n₁+1)/2)/(n₁n₀) — the
      // Mann-Whitney U in disguise (q_stat_4's machinery repurposed as a
      // classifier-evaluation metric). Ties get average ranks, carried
      // as DOUBLED integers (2·minrank + tiecount − 1) so every
      // sufficient statistic stays exact BIGINT; gini = 2·AUC − 1.
      // Ranks come from per-distinct-value counts + Pipelines.groupRankPrefix
      // (range-partitioned integer cumsum): r2(v) = 2·cumc − cnt + 1,
      // so no per-row rank window and no one-task sort — the corpus
      // collapses to the distinct-value grid in one keyed aggregate.
      val e = Tables(s, d, "events").select(
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
      val pts = e.groupBy("cents")
        .agg(count(lit(1)).as("cnt"), sum("pos").cast("long").as("np"))
      val cum = graft.api.Pipelines.groupRankPrefix(pts, Nil, Seq(col("cents")),
        sums = Seq(("cnt", "cumc", "")))
      val r2 = col("cumc") * 2 - col("cnt") + 1
      val a = cum.agg(sum("np").cast("long").as("n1"),
        sum(col("cnt") - col("np")).cast("long").as("n0"),
        sum(col("np") * r2).cast("long").as("r12"))
      a.select(col("n1").as("n_pos"), col("n0").as("n_neg"),
        round((col("r12") - col("n1") * (col("n1") + 1)).cast("double")
          / (lit(2.0) * col("n1") * col("n0")), 6).as("auc"),
        round((col("r12") - col("n1") * (col("n1") + 1)).cast("double")
          / (lit(1.0) * col("n1") * col("n0")) - 1, 6).as("gini"))
    },

    Q("q_ml_2_nbayes",
      graft.functions.NbLang.oracleCtes +
      """
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        | floor(CAST(sum(CASE WHEN p.pred = d.lang THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS accuracy
        |FROM documents d JOIN p ON p.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Multinomial Naive Bayes language classifier, trained and scored
      // on the corpus itself (resubstitution accuracy per language — the
      // sanity ceiling a held-out split would sit under). The shared
      // integer-exact scoring pipeline (closed-form Laplace-1 scores,
      // 1e-9-quantized lns, deterministic argmax) lives in
      // [[graft.functions.NbLang]] — q_ml_3_nb_confusion consumes the
      // SAME builder and oracle CTE chain, so the two gates cannot
      // drift apart.
      graft.functions.NbLang.predictions(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("lang"), 1).otherwise(0)).cast("long").as("n_correct"))
        .select(col("lang"), col("n_docs"), col("n_correct"),
          round(col("n_correct").cast("double") / col("n_docs") * lit(1.0), 4).as("accuracy"))
        .orderBy("lang")
    },

    Q("q_stat_13_kruskal",
      """WITH c AS (SELECT o_orderpriority AS prio, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |w AS (SELECT prio, cents, CAST(2 * rank() OVER (ORDER BY cents) + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS r2 FROM c),
        |g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n, CAST(sum(r2) AS BIGINT) AS s2,
        |  CAST(floor(CAST(sum(r2) AS DOUBLE) * CAST(sum(r2) AS DOUBLE) / (4.0 * count(*))) AS BIGINT) AS term
        | FROM w GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        | FROM (SELECT CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY cents) z),
        |a AS (SELECT prio, n, s2, CAST(sum(n) OVER () AS BIGINT) AS nn,
        |  CAST(sum(term) OVER () AS BIGINT) AS tsum FROM g)
        |SELECT prio, n AS n_g,
        | floor(CAST(s2 AS DOUBLE) / (2.0 * n) * 10000 + 0.5) / 10000 AS mean_rank,
        | floor((12.0 / (CAST(nn AS DOUBLE) * (nn + 1)) * tsum - 3.0 * (nn + 1)) * 1000000 + 0.5) / 1000000 AS h,
        | CASE WHEN ties < nn * nn * nn - nn THEN
        |  floor((12.0 / (CAST(nn AS DOUBLE) * (nn + 1)) * tsum - 3.0 * (nn + 1))
        |   / (1 - CAST(ties AS DOUBLE) / (CAST(nn AS DOUBLE) * nn * nn - nn)) * 1000000 + 0.5) / 1000000
        | ELSE 0.0 END AS h_tie
        |FROM a CROSS JOIN t ORDER BY prio""".stripMargin) { (s, d) =>
      // Kruskal–Wallis H across the 5 order-priority classes: the
      // rank-based k-group location test completing the family (Welch =
      // 2 groups parametric, Mann-Whitney = 2 groups ranks, ANOVA = k
      // groups parametric, this = k groups ranks). Average tied ranks
      // ride as DOUBLED integers (q_stat_4's device) so per-group rank
      // sums are exact BIGINTs; each group's R²/n term is
      // floor-quantized to an integer BEFORE the 5-term window sum
      // (q_stat_11's between-term discipline); the tie-correction mass
      // Σ(t³−t) is an exact BIGINT off the per-value counts. Ranks come
      // from the distinct-value grid + Pipelines.groupRankPrefix (r2(v) =
      // 2·cumc − cnt + 1, q_ret_5's device) joined back onto the
      // (prio, cents) counts — no per-row rank window, no one-task
      // sort; then everything is 5-row arithmetic.
      val c = Tables(s, d, "orders").select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val pts = c.groupBy("cents").agg(count(lit(1)).as("cnt"))
      val cum = graft.api.Pipelines.groupRankPrefix(pts, Nil, Seq(col("cents")),
          sums = Seq(("cnt", "cumc", "")))
        .select(col("cents").as("c2c"), (col("cumc") * 2 - col("cnt") + 1).as("r2"),
          col("cnt"))
      val pc = c.groupBy("prio", "cents").agg(count(lit(1)).as("npc"))
      val g = pc.join(cum, col("cents") === col("c2c"))
        .groupBy("prio").agg(sum("npc").cast("long").as("n"),
          sum(col("npc") * col("r2")).cast("long").as("s2"),
          floor(sum(col("npc") * col("r2")).cast("double")
            * sum(col("npc") * col("r2")).cast("double")
            / (lit(4.0) * sum("npc"))).cast("long").as("term"))
      val t = cum
        .agg(sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).cast("long").as("ties"))
      val wAll = Window.partitionBy()
      val a = g.select(col("prio"), col("n"), col("s2"),
        sum("n").over(wAll).as("nn"), sum("term").over(wAll).as("tsum"))
      val hRaw = lit(12.0) / (col("nn").cast("double") * (col("nn") + 1)) * col("tsum") -
        lit(3.0) * (col("nn") + 1)
      a.crossJoin(broadcast(t))
        .select(col("prio"), col("n").as("n_g"),
          round(col("s2").cast("double") / (lit(2.0) * col("n")), 4).as("mean_rank"),
          round(hRaw, 6).as("h"),
          when(col("ties") < col("nn") * col("nn") * col("nn") - col("nn"),
            round(hRaw / (lit(1) - col("ties").cast("double")
              / (col("nn").cast("double") * col("nn") * col("nn") - col("nn"))), 6))
            .otherwise(0.0).as("h_tie"))
        .orderBy("prio")
    },

    Q("q_stat_14_jarque_bera",
      """WITH q AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |g AS (SELECT flag, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s1,
        |  CAST(sum(q * q) AS BIGINT) AS s2, CAST(sum(q * q * q) AS BIGINT) AS s3,
        |  CAST(sum(q * q * q * q) AS BIGINT) AS s4 FROM q GROUP BY 1),
        |m AS (SELECT flag, n,
        |  CAST(s1 AS DOUBLE) / n AS m1,
        |  CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
        |  CAST(s3 AS DOUBLE) / n - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n) + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m3,
        |  CAST(s4 AS DOUBLE) / n - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n) + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n) - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
        | FROM g)
        |SELECT flag, n,
        | floor(m1 * 10000 + 0.5) / 10000 AS mean_q,
        | floor(m3 / (m2 * sqrt(m2)) * 1000000 + 0.5) / 1000000 AS skewness,
        | floor((m4 / (m2 * m2) - 3) * 1000000 + 0.5) / 1000000 AS ex_kurtosis,
        | floor(CAST(n AS DOUBLE) / 6 * (m3 / (m2 * sqrt(m2)) * (m3 / (m2 * sqrt(m2))) + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4) * 1000000 + 0.5) / 1000000 AS jb
        |FROM m ORDER BY flag""".stripMargin) { (s, d) =>
      // Jarque–Bera normality test of line-item quantity per return
      // flag: skewness and excess kurtosis from the first four raw power
      // sums, then JB = n/6·(S² + K²/4). Quantities are small integers,
      // so Σq..Σq⁴ are EXACT BIGINTs (q⁴ ≤ 6.25e6 → the sf0.1 corpus sum
      // ≈ 4e12, far inside both int64 and the double-exact 2^53 range) —
      // the central-moment arithmetic is pure closed-form IEEE over
      // exact inputs, identical expression shape both engines. Extends
      // the moments family (q_agg_15) with the omnibus test statistic
      // quality screens threshold on. Scale: one map-side-combinable
      // agg, 3-row arithmetic after.
      val q = Tables(s, d, "lineitem").select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"))
      val g = q.groupBy("flag").agg(count(lit(1)).as("n"), sum("q").as("s1"),
        sum(col("q") * col("q")).as("s2"),
        sum(col("q") * col("q") * col("q")).as("s3"),
        sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
      val m1 = col("s1").cast("double") / col("n")
      val m2 = col("s2").cast("double") / col("n") - m1 * m1
      val m3 = col("s3").cast("double") / col("n") -
        lit(3) * m1 * (col("s2").cast("double") / col("n")) + lit(2) * m1 * m1 * m1
      val m4 = col("s4").cast("double") / col("n") -
        lit(4) * m1 * (col("s3").cast("double") / col("n")) +
        lit(6) * m1 * m1 * (col("s2").cast("double") / col("n")) - lit(3) * m1 * m1 * m1 * m1
      val skew = m3 / (m2 * sqrt(m2))
      val exk = m4 / (m2 * m2) - 3
      g.select(col("flag"), col("n"),
        round(m1, 4).as("mean_q"),
        round(skew, 6).as("skewness"),
        round(exk, 6).as("ex_kurtosis"),
        round(col("n").cast("double") / 6 * (skew * skew + exk * exk / 4), 6).as("jb"))
        .orderBy("flag")
    },

    Q("q_graph_9_clustcoef",
      """WITH e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 10 = 0),
        |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0) GROUP BY node),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
        |                   JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y AS node FROM tri
        |  UNION ALL SELECT z AS node FROM tri) GROUP BY node)
        |SELECT deg.node, deg.deg, COALESCE(tc.n_tri, 0) AS n_tri,
        | floor(CAST(2 * COALESCE(tc.n_tri, 0) AS DOUBLE) / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1)) * 1000000 + 0.5) / 1000000 AS cc
        |FROM deg LEFT JOIN tc ON deg.node = tc.node
        |WHERE deg.deg >= 2 ORDER BY deg.node""".stripMargin) { (s, d) =>
      // Local clustering coefficient per node on the sampled supplier-
      // handoff graph: cc = 2T/(deg·(deg−1)) — how close each node's
      // neighborhood is to a clique, the standard small-world/community
      // readout built directly on q_graph_5's canonically-oriented
      // triangle stream. Degree is the distinct-neighbor count off the
      // SAME deduplicated edge list (each undirected edge contributes
      // one endpoint row per side), so the ratio is exact-rational →
      // one quantized IEEE division. Scale: edge list is node-bounded,
      // the u < v half of the session-cached mod-10 list; triangles via
      // two broadcast hash joins (q_graph_5's shape); the deg⋈tri join
      // is node-keyed.
      val e0 = graft.sources.SampledEdges.bidir(s, d, 10)
        .filter(col("src") < col("dst")).select(col("src").as("a"), col("dst").as("b"))
      val deg = e0.select(col("a").as("node"))
        .unionAll(e0.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tri = e0.as("e1")
        .join(broadcast(e0.as("e2")), col("e1.b") === col("e2.a"))
        .join(broadcast(e0.as("e3")), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      val tc = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      deg.join(tc, Seq("node"), "left")
        .filter(col("deg") >= 2)
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round((coalesce(col("n_tri"), lit(0L)) * 2).cast("double")
            / (col("deg").cast("double") * (col("deg") - 1)), 6).as("cc"))
        .orderBy("node")
    },

    Q("q_time_9_twap",
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |w AS (SELECT event_type, cents,
        |  lead(us) OVER (PARTITION BY event_type ORDER BY us, event_id) - us AS dur FROM e),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_seg,
        |  CAST(sum(cents * dur) AS BIGINT) AS num, CAST(sum(dur) AS BIGINT) AS den,
        |  CAST(sum(cents) AS BIGINT) AS sc
        | FROM w WHERE dur IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_seg,
        | floor(CAST(num AS DOUBLE) / den / 100 * 10000 + 0.5) / 10000 AS twap,
        | floor(CAST(sc AS DOUBLE) / n_seg / 100 * 10000 + 0.5) / 10000 AS mean_value
        |FROM g ORDER BY event_type""".stripMargin) { (s, d) =>
      // Time-weighted average value per event stream: each observation
      // holds until the next one of its type, so TWAP = Σ(value·Δt)/ΣΔt
      // — the metric that differs from the plain mean exactly when
      // sampling is irregular (market data, sensor gaps; the final
      // open-ended observation carries no duration and is excluded,
      // stated). Weights are exact integer microseconds off the lead()
      // pair; values pre-quantized to cents, so num/den are exact
      // BIGINTs (cents·span_µs ≈ 3e17 at sf0.1 — inside int64; at
      // larger SF the per-type span is fixed, only the count grows, so
      // the sum is span-bounded ≈ avg_cents·span, NOT row-scaled).
      // The plain mean rides along for the irregularity contrast.
      // Scale: the per-type lead comes from Pipelines.groupLeadLong
      // (r13 — the |types|-valued window was a few-task sort of ALL
      // events; the range-partitioned lead with P-row boundary
      // stitching keeps every task ~N/P), then a 5-row agg.
      val e = Tables(s, d, "events").select(col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val w = graft.api.Pipelines.groupLeadLong(e, Seq("event_type"),
          Seq(col("us"), col("event_id")), "us", "__next_us")
        .select(col("event_type"), col("cents"),
          (col("__next_us") - col("us")).as("dur"))
      w.filter(col("dur").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_seg"),
          sum(col("cents") * col("dur")).cast("long").as("num"),
          sum("dur").cast("long").as("den"),
          sum("cents").cast("long").as("sc"))
        .select(col("event_type"), col("n_seg"),
          round(col("num").cast("double") / col("den") / 100, 4).as("twap"),
          round(col("sc").cast("double") / col("n_seg") / 100, 4).as("mean_value"))
        .orderBy("event_type")
    },

    Q("q_text_36_keyphrase",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
        |dd AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM documents),
        |top AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20),
        |sc AS (SELECT tf.doc_id, tf.token,
        |  tf.tf * CAST(floor(ln(CAST(dd.dd + 1 AS DOUBLE) / (df.df + 1)) * 1000000000 + 0.5) AS BIGINT) AS score9
        | FROM tf JOIN top ON tf.doc_id = top.doc_id JOIN df ON tf.token = df.token CROSS JOIN dd),
        |r AS (SELECT doc_id, token, score9,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score9 DESC, token) AS BIGINT) AS rnk FROM sc)
        |SELECT doc_id, rnk, token,
        | floor(CAST(score9 AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      // Per-document keyphrase extraction: top-3 tokens by smoothed
      // TF-IDF (tf · ln((D+1)/(df+1))) for the 20 longest documents —
      // the per-doc topical-label primitive (q_text_8's TF-IDF is the
      // corpus-level table; this is the grouped-top-k consumer a
      // tagging pipeline runs). The IDF is quantized to a 1e-9 integer
      // so scores are exact BIGINTs (tf · idf9) and the (score desc,
      // token asc) rank is engine-deterministic. Scale: the doc filter
      // is a broadcast semi-join BEFORE the token join, so only 20
      // documents' tokens reach the vocab-bounded df join; the top-3
      // ranking compiles to WindowGroupLimit (the q_sort_3 pushdown) —
      // no full sort of the score stream.
      val docs = Tables(s, d, "documents")
      // one corpus explode → the (doc, token, tf) table; df is its
      // per-token row count (tf rows are already doc-distinct), so the
      // token stream is aggregated once and reused for both sides
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val dd = docs.agg(count(lit(1)).as("dd"))
      val top = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .select("doc_id")
      val sc = tf.join(broadcast(top), "doc_id")
        .join(df, "token").crossJoin(broadcast(dd))
        .select(col("doc_id"), col("token"),
          (col("tf") * floor(log((col("dd") + 1).cast("double") / (col("df") + 1))
            * 1000000000L + 0.5).cast("long")).as("score9"))
      sc.withColumn("rnk",
          row_number().over(Window.partitionBy("doc_id").orderBy(col("score9").desc, col("token")))
            .cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"),
          round(col("score9").cast("double") / 1000000000L, 6).as("tfidf"))
        .orderBy("doc_id", "rnk")
    }
  )
}
