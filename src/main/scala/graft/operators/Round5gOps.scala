package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11p): stream freshness auditing,
  * momentum indexing (RSI), graph degree distributions, conditional
  * bigram entropy, leave-one-out kNN evaluation, Lorenz concentration
  * curves, and peak-load profiling.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-term transcendentals floor-quantized to integers BEFORE cross-row
  * sums; one fixed-shape IEEE expression per emitted float, mirrored
  * verbatim in DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5gOps {

  val all: Seq[Q] = Seq(

    Q("q_dq_25_staleness",
      """WITH m AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, max(epoch_us(ts)) AS last_us FROM events GROUP BY 1)
        |SELECT g.event_type, g.n,
        | CAST((m.tmax - g.last_us) // 60000000 AS BIGINT) AS staleness_min,
        | CAST(CASE WHEN m.tmax - g.last_us > 86400000000 THEN 1 ELSE 0 END AS BIGINT) AS stale_flag
        |FROM g, m ORDER BY event_type""".stripMargin) { (s, d) =>
      // Stream freshness audit: per event type, minutes since its last
      // event relative to the corpus watermark, with a >24h stale flag
      // — the "did a producer go quiet" check that row counts
      // (q_dq_9_observed) can't express and that q_dq_22's sequence
      // gaps only see after the fact. All times are exact integer µs
      // maxima; the lag is integer arithmetic. Scale: one map-side
      // max/count agg per type + a broadcast 1-row watermark — at
      // 100 TB both come off the partition footer stats of a
      // date-partitioned layout without scanning rows.
      val m = Tables(s, d, "events").agg(max(unix_micros(col("ts"))).as("tmax"))
      val g = Tables(s, d, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"), max(unix_micros(col("ts"))).as("last_us"))
      g.crossJoin(broadcast(m))
        .select(col("event_type"), col("n"),
          expr("CAST((tmax - last_us) div 60000000 AS LONG)").as("staleness_min"),
          when(col("tmax") - col("last_us") > 86400000000L, 1L).otherwise(0L).as("stale_flag"))
        .orderBy("event_type")
    },

    Q("q_win_14_rsi",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |ch AS (SELECT day, cents, cents - lag(cents) OVER (ORDER BY day) AS chg FROM d),
        |gl AS (SELECT day, chg,
        |  CASE WHEN chg > 0 THEN chg ELSE 0 END AS gain,
        |  CASE WHEN chg < 0 THEN -chg ELSE 0 END AS loss FROM ch WHERE chg IS NOT NULL),
        |w AS (SELECT day, CAST(count(*) OVER win AS BIGINT) AS k,
        |  CAST(sum(gain) OVER win AS BIGINT) AS sg, CAST(sum(loss) OVER win AS BIGINT) AS sl
        | FROM gl WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT CAST(day AS BIGINT) AS day, sg // 100 AS gains_sum, sl // 100 AS losses_sum,
        | CASE WHEN sl = 0 THEN 100.0 ELSE floor((100 - 100 / (1 + CAST(sg AS DOUBLE) / sl)) * 10000 + 0.5) / 10000 END AS rsi
        |FROM w WHERE k = 14 ORDER BY day""".stripMargin) { (s, d) =>
      // 14-day RSI (simple-average variant, stated — Wilder's smoothing
      // is a recursion; the SMA form is the window-expressible one) of
      // daily purchase revenue: clamped up-moves and down-moves
      // accumulate as exact BIGINT cents in ROWS windows, RSI =
      // 100 − 100/(1+G/L) is one IEEE expression with the L=0 edge
      // pinned to 100. Momentum companion to q_win_12's Bollinger
      // volatility bands. Warm-up rows (k<14) excluded. Scale: day
      // table windows — repartitionByRange at 100 TB.
      val day = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val ch = day.withColumn("chg", col("cents") - lag("cents", 1).over(Window.orderBy("day")))
        .filter(col("chg").isNotNull)
      val gl = ch.select(col("day"),
        when(col("chg") > 0, col("chg")).otherwise(0L).as("gain"),
        when(col("chg") < 0, -col("chg")).otherwise(0L).as("loss"))
      val win = Window.orderBy("day").rowsBetween(-13, 0)
      val w = gl.select(col("day"),
        count(lit(1)).over(win).as("k"),
        sum("gain").over(win).as("sg"),
        sum("loss").over(win).as("sl"))
      w.filter(col("k") === 14)
        .select(col("day").cast("long").as("day"),
          expr("sg div 100").as("gains_sum"), expr("sl div 100").as("losses_sum"),
          when(col("sl") === 0, 100.0)
            .otherwise(round(lit(100) - lit(100) / (lit(1) + col("sg").cast("double") / col("sl")), 4))
            .as("rsi"))
        .orderBy("day")
    },

    Q("q_graph_11_degree_dist",
      """WITH e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 50 = 0),
        |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM bidir GROUP BY 1),
        |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS nd FROM deg GROUP BY 1),
        |c AS (SELECT d, nd, CAST(sum(nd) OVER () AS BIGINT) AS nn,
        |  CAST(sum(nd) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM hist)
        |SELECT d AS degree, nd AS n_nodes,
        | floor(CAST(nd AS DOUBLE) / nn * 1000000 + 0.5) / 1000000 AS share,
        | floor(CAST(cum AS DOUBLE) / nn * 1000000 + 0.5) / 1000000 AS cum_share
        |FROM c ORDER BY degree""".stripMargin) { (s, d) =>
      // Degree distribution of the sampled symmetrized handoff graph:
      // per degree level, node count, share, and the cumulative share
      // (the empirical CDF whose log-log tail slope IS the power-law
      // readout) — the hub-structure profile that picks between
      // q_graph_2's pagerank-style algorithms and flat-mesh ones, and
      // the graph analogue of q_dq_15's key-skew profile. Degrees are
      // exact distinct-neighbor counts; shares exact rationals. Scale:
      // degree table is node-bounded, histogram is max-degree-bounded;
      // the prefix window runs over the tiny histogram. The edge list
      // is the session-cached bidirected mod-50 list (SampledEdges).
      val bidir = graft.sources.SampledEdges.bidir(s, d, 50)
      val deg = bidir.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      val hist = deg.groupBy("d").agg(count(lit(1)).as("nd"))
      val c = hist
        .withColumn("nn", sum("nd").over(Window.partitionBy()))
        .withColumn("cum", sum("nd").over(Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)))
      c.select(col("d").as("degree"), col("nd").as("n_nodes"),
          round(col("nd").cast("double") / col("nn"), 6).as("share"),
          round(col("cum").cast("double") / col("nn"), 6).as("cum_share"))
        .orderBy("degree")
    },

    Q("q_text_39_cond_entropy",
      """WITH tk AS (SELECT lang, doc_id, g AS pos, string_split(text, ' ')[g + 1] AS w,
        |  string_split(text, ' ')[g + 2] AS w2
        | FROM documents, unnest(generate_series(0, len(string_split(text, ' ')) - 2)) AS u(g)),
        |bg AS (SELECT lang, w, w2, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2, 3),
        |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM bg GROUP BY 1),
        |hb AS (SELECT b.lang,
        |  CAST(sum(CAST(floor(-(CAST(b.c AS DOUBLE) / t.n) * ln(CAST(b.c AS DOUBLE) / t.n) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS hbq
        | FROM bg b JOIN tot t ON b.lang = t.lang GROUP BY 1),
        |ug AS (SELECT lang, w, CAST(sum(c) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
        |hu AS (SELECT u.lang,
        |  CAST(sum(CAST(floor(-(CAST(u.c AS DOUBLE) / t.n) * ln(CAST(u.c AS DOUBLE) / t.n) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS huq
        | FROM ug u JOIN tot t ON u.lang = t.lang GROUP BY 1)
        |SELECT hb.lang,
        | floor(CAST(hb.hbq AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS h_bigram,
        | floor(CAST(hu.huq AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS h_first,
        | floor(CAST(hb.hbq - hu.huq AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS h_cond
        |FROM hb JOIN hu ON hb.lang = hu.lang ORDER BY hb.lang""".stripMargin) { (s, d) =>
      // Conditional bigram entropy per language: H(w₂|w₁) = H(bigram) −
      // H(first-token marginal) — how much the next token surprises
      // given the current one; the sequence-predictability complement
      // of q_agg_28's marginal token entropy and the information-rate
      // number behind q_text_23's perplexity (low h_cond ⇒ templated /
      // repetitive text). Every −p·ln p term is floor-quantized to a
      // 1e-9 integer BEFORE its vocab-keyed sum (q_agg_28's device), so
      // both entropies are order-free BIGINT statistics; the identity
      // H_cond = H_b − H_first is evaluated on the quantized integers.
      // The first-token marginal derives FROM the bigram table (one
      // corpus pass). Scale: bigram vocab is corpus-bounded; everything
      // after the bigram agg is vocab-sized.
      val toks = Tables(s, d, "documents")
        .select(col("lang"), col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val w2 = Window.partitionBy("doc_id").orderBy("pos")
      val tk = toks.withColumn("w2", lead("w", 1).over(w2)).filter(col("w2").isNotNull)
      val bg = tk.groupBy("lang", "w", "w2").agg(count(lit(1)).as("c"))
      val tot = bg.groupBy("lang").agg(sum("c").as("n"))
      def hq(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val p = col("c").cast("double") / col("n")
        df.join(tot, "lang")
          .select(col("lang"), floor(-p * log(p) * 1000000000L + 0.5).cast("long").as("tq"))
          .groupBy("lang").agg(sum("tq").cast("long").as("hq"))
      }
      val hb = hq(bg).withColumnRenamed("hq", "hbq")
      val hu = hq(bg.groupBy("lang", "w").agg(sum("c").as("c"))).withColumnRenamed("hq", "huq")
      hb.join(hu, "lang")
        .select(col("lang"),
          round(col("hbq").cast("double") / 1000000000L, 6).as("h_bigram"),
          round(col("huq").cast("double") / 1000000000L, 6).as("h_first"),
          round((col("hbq") - col("huq")).cast("double") / 1000000000L, 6).as("h_cond"))
        .orderBy("lang")
    },

    Q("q_sim_21_knn_classify",
      s"""WITH s AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200),
         |pr AS (SELECT a.vec_id AS qid, a.label AS actual, b.vec_id AS nid, b.label AS nl,
         |  ${VectorFunctions.Duck.dot("a.embedding", "b.embedding")} AS dot
         | FROM s a JOIN s b ON a.vec_id <> b.vec_id),
         |rk AS (SELECT qid, actual, nl, row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn FROM pr),
         |vote AS (SELECT qid, actual, nl, CAST(count(*) AS BIGINT) AS v FROM rk WHERE rn <= 5 GROUP BY 1, 2, 3),
         |best AS (SELECT qid, actual, nl AS pred, row_number() OVER (PARTITION BY qid ORDER BY v DESC, nl) AS rb FROM vote),
         |p AS (SELECT actual, CAST(count(*) AS BIGINT) AS n, CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT) AS ok FROM best WHERE rb = 1 GROUP BY 1)
         |SELECT CAST(actual AS BIGINT) AS label, n, ok,
         | floor(CAST(ok AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS loo_accuracy
         |FROM p ORDER BY label""".stripMargin) { (s, d) =>
      // Leave-one-out 5-NN classification accuracy per label on a
      // bounded 200-vector evaluation slice: each vector is classified
      // by majority vote of its 5 nearest neighbors (cosine = dot on
      // these unit vectors) excluding itself — the standard "is the
      // embedding space label-separable" probe, the supervised
      // complement of q_sim_17's silhouette. Neighbor rank breaks dot
      // ties by neighbor id and vote ties by label (engine-
      // deterministic); dots are the fixed left-fold VectorFunctions
      // form. The slice is CONSTANT-bounded (the eval-set pattern of
      // q_sim_2/q_dedup_5, stated): cost never grows with the corpus —
      // the production path for full-corpus classification is the IVF
      // route (q_sim_4). Scale: 200×199 pairs regardless of SF.
      val sub = Tables(s, d, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), col("label"), col("embedding")).localCheckpoint()
      val a = sub.select(col("vec_id").as("qid"), col("label").as("actual"), col("embedding").as("va"))
      val b = sub.select(col("vec_id").as("nid"), col("label").as("nl"), col("embedding").as("vb"))
      val pr = a.join(broadcast(b), col("qid") =!= col("nid"))
        .select(col("qid"), col("actual"), col("nid"), col("nl"),
          VectorFunctions.dot(col("va"), col("vb")).as("dot"))
      val rk = pr.withColumn("rn",
        row_number().over(Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))))
      val vote = rk.filter(col("rn") <= 5)
        .groupBy("qid", "actual", "nl").agg(count(lit(1)).as("v"))
      val best = vote.withColumn("rb",
        row_number().over(Window.partitionBy("qid").orderBy(col("v").desc, col("nl"))))
        .filter(col("rb") === 1)
      best.groupBy(col("actual").cast("long").as("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("nl") === col("actual"), 1).otherwise(0)).cast("long").as("ok"))
        .select(col("label"), col("n"), col("ok"),
          round(col("ok").cast("double") / col("n"), 6).as("loo_accuracy"))
        .orderBy("label")
    },

    Q("q_agg_35_lorenz",
      """WITH e AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT cents, CAST(ntile(10) OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS decile FROM e),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM b GROUP BY 1),
        |c AS (SELECT decile, n, s, CAST(sum(s) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |  CAST(sum(s) OVER () AS BIGINT) AS tot FROM g)
        |SELECT decile, n,
        | floor(CAST(s AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS share,
        | floor(CAST(cum AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS cum_share
        |FROM c ORDER BY decile""".stripMargin) { (s, d) =>
      // Lorenz curve of order value by decile — the CURVE whose area
      // deficit q_agg_29's Gini scalar summarizes (this is the view that
      // says WHERE the inequality lives: bottom-decile starvation vs
      // top-decile domination).
      val e = Tables(s, d, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      graft.api.Pipelines.lorenzCurve(e, "o_orderkey", "cents")
        .orderBy("decile")
    },

    Q("q_stream_21_peak_load",
      """WITH m AS (SELECT epoch_us(ts) // 60000000 AS minute, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |r AS (SELECT minute, n, CAST(row_number() OVER (ORDER BY n DESC, minute) AS BIGINT) AS rnk,
        |  CAST(count(*) OVER () AS BIGINT) AS nm, CAST(sum(n) OVER () AS BIGINT) AS tot FROM m)
        |SELECT rnk, CAST(minute AS BIGINT) AS minute, n, nm AS n_minutes,
        | floor(CAST(n AS DOUBLE) / (CAST(tot AS DOUBLE) / nm) * 10000 + 0.5) / 10000 AS load_factor
        |FROM r WHERE rnk <= 5 ORDER BY rnk""".stripMargin) { (s, d) =>
      // Peak-load profile: the 5 busiest minutes and their load factor
      // (events vs the mean-minute rate) — the capacity-planning
      // number behind provisioning ("p100 minute is 3.6× mean") that
      // q_stream_15's burst detection flags but does not rank. Counts
      // are exact integers over ACTIVE minutes (empty minutes carry no
      // row and are excluded from the mean's denominator, stated); the
      // top-5 rank has a deterministic earliest-minute tiebreak.
      // Scale: minute-keyed map-side agg; the rank runs on the minute
      // table (TakeOrdered-sized top-5).
      graft.streaming.Streams.peakLoadFinish(Tables(s, d, "events")
        .groupBy(expr("unix_micros(ts) div 60000000").as("minute"))
        .agg(count(lit(1)).as("n")))
    }
  )
}
