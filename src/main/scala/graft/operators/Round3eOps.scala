package graft.operators

import graft.Q
import graft.functions.KMeans
import graft.functions.TextFunctions.tokens
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3e additions (SURVEY §2.11h): regression and dependence
  * statistics — the "is this feature predictive / are these columns
  * related" questions a curation team asks right after the
  * distribution tests of §2.11g — plus the Zipf diagnostic that tells
  * you whether a token-frequency profile looks like natural language.
  *
  * Shared discipline (the q_stat_2 precedent, unchanged): every
  * sufficient statistic is an exact BIGINT (cents ×100, 1e-6 log
  * quanta) aggregated with integer addition — order-insensitive across
  * partitionings — and each query ends in ONE fixed-shape IEEE
  * expression mirrored verbatim in the DuckDB oracle. The OLS closed
  * form multiplies its BIGINT statistics as DOUBLE because n·Σxy
  * crosses 2^63 at corpus scale (same reason as q_text_24's ln
  * argument).
  */
object Round3eOps {

  /** Shared fixed-shape OLS closed form over exact BIGINT sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²): slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²),
    * intercept = (Σy − slope·Σx)/n. `slopeDiv`/`interceptDiv` undo the
    * input quantization units (slope's cancels when x and y share a
    * unit; intercept is always in y's unit). Emits 1e-6-rounded
    * `slope`/`intercept`.
    */
  private def olsClosedForm(df: org.apache.spark.sql.DataFrame,
                            slopeDiv: Double, interceptDiv: Double) = {
    val n = col("n").cast("double"); val sx = col("sx").cast("double")
    val sy = col("sy").cast("double"); val sxy = col("sxy").cast("double")
    val sxx = col("sxx").cast("double")
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    df.withColumn("slope", floor(slope / slopeDiv * 1000000 + 0.5) / 1000000)
      .withColumn("intercept",
        floor((sy - slope * sx) / n / interceptDiv * 1000000 + 0.5) / 1000000)
  }

  val all: Seq[Q] = Seq(

    Q("q_stat_5_ols",
      """WITH s AS (SELECT l_returnflag AS grp,
        |                  CAST(l_quantity AS BIGINT) AS x,
        |                  CAST(floor(l_extendedprice*100+0.5) AS BIGINT) AS y
        |           FROM lineitem),
        |st AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |              CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
        |       FROM s GROUP BY grp)
        |SELECT grp, n,
        | floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |     / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |     / 100 * 1000000 + 0.5) / 1000000 AS slope,
        | floor((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |     / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |     / CAST(n AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000 AS intercept
        |FROM st ORDER BY grp""".stripMargin) { (s, d) =>
      // Group-wise least-squares regression of extendedprice (cents) on
      // quantity: ONE scan, one group-by producing the five exact BIGINT
      // sufficient statistics, then the closed form as a 3-row
      // projection. Per-row x·y ≤ 5e8 so Σxy stays ~1e14 at sf0.1 (and
      // ~1e17 at sf100) — exact; only the n·Σxy cross term needs DOUBLE.
      // This is the map-side-combinable shape that scales: no row ever
      // leaves its partition before the 5-number reduction.
      val st = Tables(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      olsClosedForm(st, slopeDiv = 100.0, interceptDiv = 100.0)
        .select(col("grp"), col("n"), col("slope"), col("intercept"))
        .orderBy("grp")
    },

    Q("q_stat_6_mutualinfo",
      """WITH cells AS (SELECT o_orderstatus AS x, o_orderpriority AS y, CAST(count(*) AS BIGINT) AS c
        |               FROM orders GROUP BY 1,2),
        |w AS (SELECT c,
        |             CAST(sum(c) OVER (PARTITION BY x) AS BIGINT) AS cx,
        |             CAST(sum(c) OVER (PARTITION BY y) AS BIGINT) AS cy,
        |             CAST(sum(c) OVER () AS BIGINT) AS n FROM cells),
        |q AS (SELECT n, CAST(floor(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)
        |        * ln(CAST(c AS DOUBLE)*CAST(n AS DOUBLE)/(CAST(cx AS DOUBLE)*CAST(cy AS DOUBLE)))
        |        * 1000000 + 0.5) AS BIGINT) AS contrib_q FROM w)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(sum(contrib_q) AS DOUBLE)/1000000 AS mi_nats
        |FROM q GROUP BY n""".stripMargin) { (s, d) =>
      // Mutual information I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y)))
      // between order status and priority — the dependence screen for
      // categorical column pairs (χ²'s information-theoretic cousin,
      // and the column-level analogue of q_text_24's token PMI). ONE
      // scan: the contingency table is |X|·|Y|-bounded, so both
      // marginals AND the grand total ride it as windows; per-cell
      // contributions are 1e-6-quantized to BIGINT before the final
      // sum, so the reduction is integer and order-free. Negative
      // cells (p12 < p1·p2) round with the same floor(x+0.5) half-up
      // convention in both engines.
      val cells = Tables(s, d, "orders")
        .groupBy(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
        .agg(count(lit(1)).as("c"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cD = col("c").cast("double"); val nD = col("n").cast("double")
      cells
        .withColumn("cx", sum("c").over(Window.partitionBy("x")))
        .withColumn("cy", sum("c").over(Window.partitionBy("y")))
        .withColumn("n", sum("c").over(wAll))
        .select(col("n"),
          floor(cD / nD * log(cD * nD / (col("cx").cast("double") * col("cy").cast("double")))
            * 1000000 + 0.5).cast("long").as("contrib_q"))
        .groupBy("n")
        .agg(count(lit(1)).as("n_cells"),
          (sum("contrib_q").cast("double") / 1000000).as("mi_nats"))
        .select(col("n"), col("n_cells"), col("mi_nats"))
    },

    Q("q_text_25_zipf",
      """WITH tf AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |            FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents) GROUP BY token),
        |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank FROM tf
        |       QUALIFY rank <= 1000),
        |pt AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE))*1000000+0.5) AS BIGINT) AS xq,
        |              CAST(floor(ln(CAST(cnt AS DOUBLE))*1000000+0.5) AS BIGINT) AS yq FROM rk),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
        |              CAST(sum(xq*yq) AS BIGINT) AS sxy, CAST(sum(xq*xq) AS BIGINT) AS sxx FROM pt)
        |SELECT n,
        | floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |     / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS slope,
        | floor((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |     / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |     / CAST(n AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000 AS intercept
        |FROM st""".stripMargin) { (s, d) =>
      // Zipf rank–frequency fit: OLS slope of ln(freq) on ln(rank) over
      // the top-1000 vocabulary — natural-language corpora sit near
      // slope ≈ −1, so a drifting slope is a cheap corpus-health alarm
      // (boilerplate/spam flattens it, truncation steepens it). The
      // regression points are 1e-6-quantized BIGINT log-coordinates, so
      // the OLS sufficient statistics stay exact integers; xq·yq ≤
      // ~2e14 and the point set is capped at 1000 rows, so sums are
      // overflow-safe unconditionally. The global rank window reduces a
      // VOCAB-sized table (not the corpus); intercept's unit divisor is
      // 1e6 (micro-log y back to nats).
      val tf = Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val rk = tf
        .withColumn("rank", row_number().over(Window.orderBy(col("cnt").desc, col("token").asc)))
        .filter(col("rank") <= 1000)
      val pt = rk.select(
        floor(log(col("rank").cast("double")) * 1000000 + 0.5).cast("long").as("xq"),
        floor(log(col("cnt").cast("double")) * 1000000 + 0.5).cast("long").as("yq"))
      val st = pt.agg(count(lit(1)).as("n"), sum("xq").as("sx"), sum("yq").as("sy"),
        sum(col("xq") * col("yq")).as("sxy"), sum(col("xq") * col("xq")).as("sxx"))
      olsClosedForm(st, slopeDiv = 1.0, interceptDiv = 1000000.0)
        .select(col("n"), col("slope"), col("intercept"))
    },

    Q("q_agg_30_assoc",
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        |            FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pairs AS (SELECT x.b AS b1, y.b AS b2, CAST(count(*) AS BIGINT) AS c12
        |          FROM ob x JOIN ob y ON x.ok = y.ok AND x.b < y.b GROUP BY 1,2),
        |m AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM ob GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS no FROM ob),
        |sc AS (SELECT b1, b2, c12,
        |        CAST(floor(CAST(c12 AS DOUBLE)/CAST(no AS DOUBLE)*1000000+0.5) AS BIGINT) AS sup6,
        |        CAST(floor(CAST(c12 AS DOUBLE)*CAST(no AS DOUBLE)/(CAST(m1.cb AS DOUBLE)*CAST(m2.cb AS DOUBLE))*1000000+0.5) AS BIGINT) AS lift6
        |       FROM pairs JOIN m m1 ON pairs.b1 = m1.b JOIN m m2 ON pairs.b2 = m2.b, n
        |       WHERE c12 >= 50)
        |SELECT b1, b2, c12, CAST(sup6 AS DOUBLE)/1000000 AS support, CAST(lift6 AS DOUBLE)/1000000 AS lift, CAST(rn AS BIGINT) AS rn
        |FROM (SELECT *, row_number() OVER (ORDER BY lift6 DESC, b1, b2) AS rn FROM sc)
        |WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
      // Market-basket association rules: top-20 brand pairs co-bought
      // within an order, ranked by lift = p12/(p1·p2) with a min-support
      // threshold — the classic affinity-mining primitive (and, on
      // corpora, the domain-cooccurrence screen for mixture design).
      // The basket table (order, brand) is localCheckpoint'ed ONCE and
      // feeds the pair self-join, both marginals, and the total — the
      // q_dedup_7 lineage-truncation pattern; without it the
      // lineitem⋈part subtree replays 4×. The self-join is
      // orderkey-partitioned (baskets are small: pairs-per-order ≤
      // brands²/2); marginal joins are brand-bounded broadcasts; the
      // dims broadcast under AQE sizing. Ordering by the quantized
      // integer (lift6, b1, b2) — total and engine-stable.
      val ob = Tables(s, d, "lineitem")
        .join(Tables(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("b"))
        .distinct()
        .localCheckpoint()
      val pairs = ob.as("x").join(ob.as("y"),
          col("x.ok") === col("y.ok") && col("x.b") < col("y.b"))
        .groupBy(col("x.b").as("b1"), col("y.b").as("b2"))
        .agg(count(lit(1)).as("c12"))
      val m = ob.groupBy(col("b")).agg(count(lit(1)).as("cb"))
      val no = ob.select(countDistinct("ok").as("no"))
      // marginals are |brands|-bounded (dimension, not corpus, scale) —
      // safe to broadcast, unlike the corpus-derived hints q_text_16 dropped
      val sc = pairs
        .join(broadcast(m.select(col("b").as("b1"), col("cb").as("cb1"))), Seq("b1"))
        .join(broadcast(m.select(col("b").as("b2"), col("cb").as("cb2"))), Seq("b2"))
        .crossJoin(no)
        .filter(col("c12") >= 50)
        .select(col("b1"), col("b2"), col("c12"),
          floor(col("c12").cast("double") / col("no").cast("double") * 1000000 + 0.5)
            .cast("long").as("sup6"),
          floor(col("c12").cast("double") * col("no").cast("double")
            / (col("cb1").cast("double") * col("cb2").cast("double")) * 1000000 + 0.5)
            .cast("long").as("lift6"))
      sc.withColumn("rn", row_number().over(Window.orderBy(col("lift6").desc, col("b1"), col("b2"))))
        .filter(col("rn") <= 20)
        .select(col("b1"), col("b2"), col("c12"),
          (col("sup6").cast("double") / 1000000).as("support"),
          (col("lift6").cast("double") / 1000000).as("lift"),
          col("rn").cast("long").as("rn"))
        .orderBy("rn")
    },

    Q("q_stream_13_markov",
      """WITH seq AS (SELECT event_type AS a,
        |                    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS b
        |             FROM events),
        |tr AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM seq WHERE b IS NOT NULL GROUP BY 1,2)
        |SELECT a, b, c, CAST(sum(c) OVER (PARTITION BY a) AS BIGINT) AS c_a,
        |       floor(CAST(c AS DOUBLE)/CAST(sum(c) OVER (PARTITION BY a) AS DOUBLE)*1000000+0.5)/1000000 AS p
        |FROM tr ORDER BY a, b""".stripMargin) { (s, d) =>
      // First-order Markov transition matrix over each user's event
      // sequence — the session-behavior model behind next-event
      // prediction and anomaly scoring (q_text_16's bigram LM lifted
      // from tokens to events); event_id breaks timestamp ties.
      graft.api.Pipelines.transitionMatrix(Tables(s, d, "events"), "user_id", "event_type",
          Seq("ts", "event_id"))
        .orderBy("a", "b")
    },

    Q("q_time_27_acf",
      """WITH day AS (SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS dday, CAST(count(*) AS BIGINT) AS x
        |             FROM events GROUP BY 1),
        |dev AS (SELECT dday, CAST(count(*) OVER () * x - sum(x) OVER () AS BIGINT) AS d FROM day),
        |den AS (SELECT CAST(sum(d*d) AS BIGINT) AS den FROM dev),
        |lagged AS (
        |  SELECT k.k AS lag, CAST(sum(d.d * l.d) AS BIGINT) AS num
        |  FROM (SELECT unnest(range(1, 8)) AS k) k
        |  JOIN dev d ON true
        |  JOIN dev l ON l.dday = d.dday - CAST(k.k AS INTEGER)
        |  GROUP BY 1)
        |SELECT lag, num, den.den AS den,
        |       floor(CAST(num AS DOUBLE)/CAST(den.den AS DOUBLE)*1000000+0.5)/1000000 AS acf
        |FROM lagged, den ORDER BY lag""".stripMargin) { (s, d) =>
      // Autocorrelation of the daily event-count series at calendar lags
      // 1..7 — the seasonality/persistence readout completing the
      // time-series family (spine→ffill→ohlc→ewma→acf). Integer core:
      // the n²-scaled deviation dᵗ = n·xᵗ − Σx is exact BIGINT (counts
      // are integers), so numerator Σ dᵗ·dᵗ⁻ᵏ and denominator Σ dᵗ² are
      // exact too (n² cancels in the ratio; ≈1e17 at sf0.1 — DECIMAL(38)
      // escalation at ~1e9 events/day, the q_agg_29 note). ONE corpus
      // scan; everything after the per-day aggregate is day-bounded:
      // deviations ride as unpartitioned windows, the lag join is a
      // 7×days self-join of a tiny table (calendar-lag semantics, robust
      // to gaps), the denominator a 1-row cross join. The day aggregate
      // is localCheckpoint'ed: it feeds the self-join's two sides AND
      // the denominator — without it the corpus scan replays 3×.
      val day = Tables(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("dday"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val dev = day.select(col("dday"),
        (count(lit(1)).over(wAll) * col("x") - sum("x").over(wAll)).as("d"))
      val den = dev.agg(sum(col("d") * col("d")).as("den"))
      val ks = s.range(1, 8).select(col("id").as("lag"))
      val lagged = dev.as("d").crossJoin(broadcast(ks))
        .join(dev.as("l"), col("l.dday") === date_sub(col("d.dday"), col("lag").cast("int")))
        .groupBy("lag").agg(sum(col("d.d") * col("l.d")).as("num"))
      lagged.crossJoin(broadcast(den))
        .select(col("lag"), col("num"), col("den"),
          (floor(col("num").cast("double") / col("den").cast("double") * 1000000 + 0.5) / 1000000).as("acf"))
        .orderBy("lag")
    },

    Q("q_stat_7_survival",
      """WITH u AS (SELECT user_id,
        |                  min(CASE WHEN event_type='signup' THEN ts::TIMESTAMP END) AS t_s,
        |                  max(ts::TIMESTAMP) AS t_max
        |           FROM events GROUP BY user_id),
        |p AS (SELECT e.user_id, min(e.ts::TIMESTAMP) AS t_p
        |      FROM events e JOIN u ON e.user_id = u.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > u.t_s GROUP BY 1),
        |c AS (SELECT CAST(max(floor(epoch(t_max))) AS BIGINT) AS t_end FROM u),
        |subj AS (SELECT CASE WHEN p.t_p IS NOT NULL THEN CAST(floor((floor(epoch(p.t_p)) - floor(epoch(u.t_s)))/86400) AS BIGINT)
        |                     ELSE CAST(floor((c.t_end - floor(epoch(u.t_s)))/86400) AS BIGINT) END AS tt,
        |                CASE WHEN p.t_p IS NOT NULL THEN 1 ELSE 0 END AS ev
        |         FROM u LEFT JOIN p ON u.user_id = p.user_id, c
        |         WHERE u.t_s IS NOT NULL),
        |g AS (SELECT tt, CAST(sum(ev) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS ctot FROM subj GROUP BY tt),
        |r AS (SELECT tt, d, CAST(sum(ctot) OVER () - sum(ctot) OVER (ORDER BY tt) + ctot AS BIGINT) AS n_risk FROM g),
        |l AS (SELECT tt, d, n_risk,
        |             CASE WHEN d > 0 AND d < n_risk THEN CAST(floor(ln(1.0 - CAST(d AS DOUBLE)/CAST(n_risk AS DOUBLE))*1000000+0.5) AS BIGINT) ELSE 0 END AS lnterm,
        |             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS zf
        |      FROM r),
        |s AS (SELECT tt, d, n_risk,
        |             CAST(sum(lnterm) OVER (ORDER BY tt) AS BIGINT) AS lns,
        |             max(zf) OVER (ORDER BY tt) AS zmax FROM l)
        |SELECT tt, d, n_risk,
        |       CASE WHEN zmax = 1 THEN 0.0 ELSE floor(exp(CAST(lns AS DOUBLE)/1000000)*1000000+0.5)/1000000 END AS s
        |FROM s WHERE d > 0 ORDER BY tt""".stripMargin) { (s, d) =>
      // Kaplan–Meier survival curve of days from first signup to first
      // subsequent purchase, right-censored at the corpus horizon — the
      // time-to-conversion estimator (and, on data pipelines, the
      // "how long until a crawled page is re-crawled/duplicated"
      // family). The product Π(1 − dᵢ/nᵢ) is an ORDERED float product —
      // computed as exp of the cumulative sum of 1e-6-quantized
      // ln(1 − d/n) terms, making the accumulation an integer prefix
      // sum (no float-product order hazard); when d = n_risk the
      // survivor function hits exact 0 (a cumulative-max flag, not
      // ln(0)). TWO passes over events (per-user stages + the
      // conditional purchase-after-signup join); everything downstream
      // is bounded by distinct duration days. At-risk counts come from
      // the total minus an exclusive prefix — one window sort over the
      // duration table.
      // u (the per-user stage table) feeds the purchase join, the
      // censor horizon, and the subject table — checkpoint it once so
      // the corpus aggregate isn't re-derived per consumer
      val ev = Tables(s, d, "events")
      val u = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_s"),
        max(col("ts")).as("t_max"))
        .localCheckpoint()
      val p = ev.join(u, Seq("user_id"))
        .filter(col("event_type") === "purchase" && col("ts") > col("t_s"))
        .groupBy("user_id").agg(min("ts").as("t_p"))
      val cEnd = u.agg(max(unix_timestamp(col("t_max"))).as("t_end"))
      val subj = u.filter(col("t_s").isNotNull)
        .join(p, Seq("user_id"), "left")
        .crossJoin(broadcast(cEnd))
        .select(
          when(col("t_p").isNotNull,
            floor((unix_timestamp(col("t_p")) - unix_timestamp(col("t_s"))) / 86400))
            .otherwise(floor((col("t_end") - unix_timestamp(col("t_s"))) / 86400))
            .cast("long").as("tt"),
          when(col("t_p").isNotNull, 1L).otherwise(0L).as("ev"))
      val g = subj.groupBy("tt").agg(sum("ev").as("d"), count(lit(1)).as("ctot"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wCum = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = g.select(col("tt"), col("d"),
        (sum("ctot").over(wAll) - sum("ctot").over(wCum) + col("ctot")).as("n_risk"))
      val l = r
        .withColumn("lnterm",
          when(col("d") > 0 && col("d") < col("n_risk"),
            floor(log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")) * 1000000 + 0.5).cast("long"))
            .otherwise(0L))
        .withColumn("zf", when(col("d") >= col("n_risk"), 1).otherwise(0))
      l.select(col("tt"), col("d"), col("n_risk"),
          sum("lnterm").over(wCum).as("lns"), max("zf").over(wCum).as("zmax"))
        .filter(col("d") > 0)
        .select(col("tt"), col("d"), col("n_risk"),
          when(col("zmax") === 1, lit(0.0))
            .otherwise(floor(exp(col("lns").cast("double") / 1000000) * 1000000 + 0.5) / 1000000).as("s"))
        .orderBy("tt")
    },

    Q("q_sim_16_rrf", {
      // shared oracle-side cosine (identical fold shape to the Spark
      // `cosine_similarity` expression) — do NOT inline a private copy
      val cos = graft.functions.VectorFunctions.Duck.cosine("e.embedding", "pr.pvec")
      s"""WITH pr AS (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0),
         |vr AS (SELECT vec_id AS id, row_number() OVER (ORDER BY $cos DESC, vec_id) AS rv
         |       FROM embeddings e, pr WHERE e.vec_id <> 0),
         |pt AS (SELECT list_distinct(string_split(text, ' ')) AS ptok FROM documents WHERE doc_id = 0),
         |lr AS (SELECT doc_id AS id,
         |              row_number() OVER (ORDER BY len(list_intersect(list_distinct(string_split(text, ' ')), pt.ptok)) DESC, doc_id) AS rl
         |       FROM documents, pt WHERE doc_id <> 0),
         |f AS (SELECT vr.id, rv, rl,
         |             CAST(floor(1000000.0/(60+rv)+0.5) AS BIGINT) + CAST(floor(1000000.0/(60+rl)+0.5) AS BIGINT) AS rrf6
         |      FROM vr JOIN lr ON vr.id = lr.id)
         |SELECT id, CAST(rv AS BIGINT) AS rank_vec, CAST(rl AS BIGINT) AS rank_lex,
         |       CAST(rrf6 AS DOUBLE)/1000000 AS rrf, CAST(rn AS BIGINT) AS rn
         |FROM (SELECT *, row_number() OVER (ORDER BY rrf6 DESC, id) AS rn FROM f)
         |WHERE rn <= 10 ORDER BY rn""".stripMargin
    }) { (s, d) =>
      // Reciprocal-rank fusion (k=60): hybrid retrieval combining the
      // vector rank list (cosine vs the probe embedding) with the
      // lexical rank list (distinct-token overlap with the probe doc) —
      // the standard way real RAG/retrieval stacks merge BM25-ish and
      // ANN candidates without score calibration. Per-list 1/(60+rank)
      // contributions are 1e-6-quantized INTEGERS, so the fusion sum
      // and its ordering are exact; both rank lists break ties by id.
      // Each list is one corpus pass against a broadcast 1-row probe.
      // Scale: RRF needs the FULL-list rank of every doc (a top-K
      // truncation changes fused scores for any doc outside one list's
      // K), so both corpus-sized ranks use the range-partitioned
      // exactGlobalRank — no single-partition sort; the fusion join
      // is id-partitioned and the final top-10 window is
      // WindowGroupLimit-bounded (per-partition top-10 runs before the
      // 1-partition exchange, so it sees ≤10·P rows, not the corpus).
      graft.expressions.VectorExpressions.register(s)
      import graft.api.Pipelines.exactGlobalRank
      val emb = Tables(s, d, "embeddings")
      val probeV = emb.filter(col("vec_id") === 0).select(col("embedding").as("pvec"))
      val vr = exactGlobalRank(
          emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(probeV))
            .select(col("vec_id").as("id"),
              expr("cosine_similarity(embedding, pvec)").as("cos")),
          Seq(col("cos").desc, col("id")), "rv")._2
        .select(col("id"), col("rv")) // stays LONG through fusion (r10
      // ADVICE fix: an int cast here silently overflows past 2^31 rows,
      // contradicting the full-corpus-rank rationale; emission casts)
      val docs = Tables(s, d, "documents")
      val probeT = docs.filter(col("doc_id") === 0)
        .select(array_distinct(tokens(col("text"))).as("ptok"))
      val lr = exactGlobalRank(
          docs.filter(col("doc_id") =!= 0).crossJoin(broadcast(probeT))
            .select(col("doc_id").as("id"),
              size(array_intersect(array_distinct(tokens(col("text"))), col("ptok"))).as("ov")),
          Seq(col("ov").desc, col("id")), "rl")._2
        .select(col("id"), col("rl")) // long, same as rv
      val fused = vr.join(lr, Seq("id"))
        .select(col("id"), col("rv"), col("rl"),
          (floor(lit(1000000.0) / (col("rv") + 60) + 0.5).cast("long")
            + floor(lit(1000000.0) / (col("rl") + 60) + 0.5).cast("long")).as("rrf6"))
      fused.withColumn("rn", row_number().over(Window.orderBy(col("rrf6").desc, col("id"))))
        .filter(col("rn") <= 10)
        .select(col("id"), col("rv").cast("long").as("rank_vec"), col("rl").cast("long").as("rank_lex"),
          (col("rrf6").cast("double") / 1000000).as("rrf"), col("rn").cast("long").as("rn"))
        .orderBy("rn")
    },

    Q("q_dq_19_fd",
      """WITH deps AS (
        | SELECT 'lineitem: l_orderkey -> l_suppkey' AS dep, l_orderkey AS lhs, CAST(l_suppkey AS VARCHAR) AS rhs FROM lineitem
        | UNION ALL
        | SELECT 'lineitem: l_partkey -> l_suppkey', l_partkey, CAST(l_suppkey AS VARCHAR) FROM lineitem
        | UNION ALL
        | SELECT 'orders: o_custkey -> o_orderpriority', o_custkey, o_orderpriority FROM orders),
        |g AS (SELECT dep, lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS nd FROM deps GROUP BY 1,2)
        |SELECT dep, CAST(count(*) AS BIGINT) AS n_lhs,
        |       CAST(count(CASE WHEN nd > 1 THEN 1 END) AS BIGINT) AS n_violating,
        |       CAST(max(nd) AS BIGINT) AS max_rhs,
        |       floor(CAST(count(CASE WHEN nd > 1 THEN 1 END) AS DOUBLE)/CAST(count(*) AS DOUBLE)*1000000+0.5)/1000000 AS violation_rate
        |FROM g GROUP BY dep ORDER BY dep""".stripMargin) { (s, d) =>
      // Functional-dependency audit: for candidate LHS→RHS rules,
      // measure how far the data is from satisfying them (violating-LHS
      // share, worst fan-out) — the schema-discovery/data-profiling
      // primitive behind key detection and denormalization checks. Each
      // candidate is a two-level aggregate (distinct-RHS per LHS, then
      // LHS-bounded rollup) — both map-side combinable. Both lineitem
      // candidates come out of ONE scan (explode of two dep structs —
      // a union would scan the fact table per candidate). Violation
      // rates here are intentionally non-trivial (synthetic keys don't
      // determine suppliers) — the point is the measurement, not a pass.
      val li = Tables(s, d, "lineitem")
      val or = Tables(s, d, "orders")
      val deps = li.select(explode(array(
          struct(lit("lineitem: l_orderkey -> l_suppkey").as("dep"),
            col("l_orderkey").as("lhs"), col("l_suppkey").cast("string").as("rhs")),
          struct(lit("lineitem: l_partkey -> l_suppkey").as("dep"),
            col("l_partkey").as("lhs"), col("l_suppkey").cast("string").as("rhs")))).as("e"))
        .select(col("e.dep").as("dep"), col("e.lhs").as("lhs"), col("e.rhs").as("rhs"))
        .unionAll(or.select(lit("orders: o_custkey -> o_orderpriority").as("dep"),
          col("o_custkey").as("lhs"), col("o_orderpriority").as("rhs")))
      deps.groupBy("dep", "lhs").agg(countDistinct("rhs").as("nd"))
        .groupBy("dep")
        .agg(count(lit(1)).as("n_lhs"),
          count(when(col("nd") > 1, 1)).as("n_violating"),
          max("nd").as("max_rhs"))
        .select(col("dep"), col("n_lhs"), col("n_violating"), col("max_rhs"),
          (floor(col("n_violating").cast("double") / col("n_lhs").cast("double") * 1000000 + 0.5) / 1000000).as("violation_rate"))
        .orderBy("dep")
    },

    Q("q_scan_16_weighted_sample",
      """WITH h AS (SELECT doc_id, n_chars,
        |                  CAST(((doc_id % 1000000007) * 2654435761) % 1000000007 AS BIGINT) AS hv
        |           FROM documents),
        |k AS (SELECT doc_id, n_chars,
        |             CAST(floor(ln(CAST(hv + 1 AS DOUBLE) / 1000000008.0) / CAST(n_chars AS DOUBLE) * 1000000000 + 0.5) AS BIGINT) AS key9
        |      FROM h)
        |SELECT doc_id, n_chars, CAST(key9 AS DOUBLE)/1000000000 AS key, CAST(rn AS BIGINT) AS rn
        |FROM (SELECT *, row_number() OVER (ORDER BY key9 DESC, doc_id) AS rn FROM k)
        |WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
      // Weighted sampling without replacement, P(doc) ∝ n_chars — how
      // corpus audits sample by token mass rather than doc count.
      graft.api.Pipelines.weightedSample(Tables(s, d, "documents"), "doc_id", "n_chars", 20)
        .orderBy("rn")
    },

    Q("q_text_26_coverage",
      """WITH tf AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |            FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents) GROUP BY token),
        |r AS (SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
        |             CAST(sum(cnt) OVER (ORDER BY cnt DESC, token) AS BIGINT) AS cum,
        |             CAST(sum(cnt) OVER () AS BIGINT) AS total FROM tf)
        |SELECT rank AS k, cum, total,
        |       floor(CAST(cum AS DOUBLE)/CAST(total AS DOUBLE)*1000000+0.5)/1000000 AS coverage
        |FROM r WHERE rank IN (5, 10, 25) ORDER BY rank""".stripMargin) { (s, d) =>
      // Vocabulary coverage curve: share of total token mass covered by
      // the top-k vocabulary (k = 5/10/25) — the readout that sizes a
      // tokenizer vocab or a stopword list ("how much of the corpus do
      // the top-k types explain"). ONE corpus scan+explode; only the
      // top-25 types are ever needed, so the rank/cum windows run over
      // a TakeOrdered(25) of the frequency table (25 rows, not the
      // vocab), and the total is a broadcast 1-row aggregate of the
      // SAME frequency plan (ReuseExchange dedups the token exchange).
      // The window-sum is HUGEINT in the oracle — CAST (q_text_21 trap).
      val tf = Tables(s, d, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val wRank = Window.orderBy(col("cnt").desc, col("token"))
      tf.orderBy(col("cnt").desc, col("token")).limit(25)
        .select(
          row_number().over(wRank).cast("long").as("k"),
          sum("cnt").over(wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
        .crossJoin(broadcast(tf.agg(sum("cnt").as("total"))))
        .filter(col("k").isin(5L, 10L, 25L))
        .select(col("k"), col("cum"), col("total"),
          (floor(col("cum").cast("double") / col("total").cast("double") * 1000000 + 0.5) / 1000000).as("coverage"))
        .orderBy("k")
    },

    Q("q_stream_14_interarrival",
      """WITH seq AS (SELECT user_id, CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS es,
        |                    lag(CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id) AS prev
        |             FROM events),
        |g AS (SELECT user_id, CAST(es - prev AS BIGINT) AS gap FROM seq WHERE prev IS NOT NULL),
        |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS m, CAST(sum(gap) AS BIGINT) AS sg, CAST(sum(gap*gap) AS BIGINT) AS sg2
        |       FROM g GROUP BY user_id HAVING count(*) >= 2)
        |SELECT user_id, m, sg, sg2,
        |       floor(sqrt(CAST(m AS DOUBLE)*CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE)*CAST(sg AS DOUBLE)) / CAST(sg AS DOUBLE) * 1000000 + 0.5)/1000000 AS cv
        |FROM st ORDER BY user_id""".stripMargin) { (s, d) =>
      // Inter-arrival burstiness per user: coefficient of variation of
      // the gaps between consecutive events — CV ≈ 1 is Poisson
      // (memoryless), ≫1 is bursty, ≪1 is metronomic; the behavioral
      // screen for bot/automation detection and feed-health monitoring.
      // Gap sufficient statistics (m, Σg, Σg²) are exact BIGINTs from
      // whole-second gaps; CV = √(m·Σg² − (Σg)²)/Σg is ONE fixed IEEE
      // expression per user (the q_stat_5 closed-form discipline). ONE
      // scan: lag window (ts, event_id)-ordered, then a per-user
      // map-side-combinable aggregate.
      val seq = Tables(s, d, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
          lag(unix_timestamp(col("ts")), 1).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))).as("prev"))
      val st = seq.filter(col("prev").isNotNull)
        .select(col("user_id"), (col("es") - col("prev")).as("gap"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("m"), sum("gap").as("sg"), sum(col("gap") * col("gap")).as("sg2"))
        .filter(col("m") >= 2)
      st.select(col("user_id"), col("m"), col("sg"), col("sg2"),
          (floor(sqrt(col("m").cast("double") * col("sg2").cast("double")
            - col("sg").cast("double") * col("sg").cast("double"))
            / col("sg").cast("double") * 1000000 + 0.5) / 1000000).as("cv"))
        .orderBy("user_id")
    },

    Q("q_stat_8_welch",
      """WITH s AS (SELECT event_type AS g, CAST(floor(value*100+0.5) AS BIGINT) AS v
        |           FROM events WHERE event_type IN ('purchase','view')),
        |st AS (SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v*v) AS BIGINT) AS sv2
        |       FROM s GROUP BY g),
        |p AS (SELECT max(CASE WHEN g='purchase' THEN n END) AS n1, max(CASE WHEN g='purchase' THEN sv END) AS sv1,
        |             max(CASE WHEN g='purchase' THEN sv2 END) AS sq1,
        |             max(CASE WHEN g='view' THEN n END) AS n2, max(CASE WHEN g='view' THEN sv END) AS svb,
        |             max(CASE WHEN g='view' THEN sv2 END) AS sq2 FROM st),
        |sem AS (SELECT n1, n2, sv1, svb,
        |  (CAST(n1 AS DOUBLE)*CAST(sq1 AS DOUBLE) - CAST(sv1 AS DOUBLE)*CAST(sv1 AS DOUBLE))/(CAST(n1 AS DOUBLE)*(CAST(n1 AS DOUBLE)-1)*CAST(n1 AS DOUBLE)) AS e1,
        |  (CAST(n2 AS DOUBLE)*CAST(sq2 AS DOUBLE) - CAST(svb AS DOUBLE)*CAST(svb AS DOUBLE))/(CAST(n2 AS DOUBLE)*(CAST(n2 AS DOUBLE)-1)*CAST(n2 AS DOUBLE)) AS e2
        | FROM p)
        |SELECT n1, n2,
        | floor((CAST(sv1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(svb AS DOUBLE)/CAST(n2 AS DOUBLE)) / sqrt(e1 + e2) * 1000000 + 0.5) / 1000000 AS t,
        | floor((e1 + e2)*(e1 + e2) / (e1*e1/(CAST(n1 AS DOUBLE)-1) + e2*e2/(CAST(n2 AS DOUBLE)-1)) * 1000000 + 0.5) / 1000000 AS df
        |FROM sem""".stripMargin) { (s, d) =>
      // Welch's unequal-variance t-test between the purchase and view
      // `value` samples — the continuous-outcome A/B readout completing
      // q_stat_2's proportion z-test. Σv² ≈ 9e13 at sf0.1, ~9e16 at
      // sf100 — exact.
      graft.api.Pipelines.welchTTest(Tables(s, d, "events"), "value", "event_type",
        "purchase", "view")
    },

    Q("q_stat_9_theilsen",
      """WITH day AS (SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS dday, CAST(count(*) AS BIGINT) AS y
        |             FROM events GROUP BY 1),
        |idx AS (SELECT CAST(dday - (SELECT min(dday) FROM day) AS BIGINT) AS x, y FROM day),
        |pr AS (SELECT CAST(floor(CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS s6
        |      FROM idx a JOIN idx b ON b.x > a.x),
        |rk AS (SELECT s6, row_number() OVER (ORDER BY s6) AS rn, count(*) OVER () AS m FROM pr)
        |SELECT CAST(max(m) AS BIGINT) AS n_pairs,
        |       CAST(sum(CASE WHEN rn IN ((m+1)//2, (m+2)//2) THEN s6 ELSE 0 END) AS BIGINT) AS med2_raw,
        |       CAST(sum(CASE WHEN rn IN ((m+1)//2, (m+2)//2) THEN s6 ELSE 0 END) AS DOUBLE)
        |         / (CASE WHEN max(m) % 2 = 0 THEN 2.0 ELSE 1.0 END) / 1000000 AS slope
        |FROM rk""".stripMargin) { (s, d) =>
      // Theil–Sen robust trend: median of all pairwise slopes of the
      // daily event-count series — the outlier-proof companion to
      // q_stat_5's least squares (one corrupt day moves OLS, not the
      // pairwise median; breakdown point 29%). The day table is
      // CALENDAR-bounded (it does not grow with corpus SF — same
      // window, more events per day), so the O(days²) pair join is a
      // bounded self-join of a checkpointed aggregate (the q_time_5
      // pattern), not a corpus blowup. Slopes are 1e-6-quantized
      // integers; the even/odd median is exact integer selection
      // (sum of the one or two middle order statistics) with one final
      // division — no float percentile machinery.
      val day = Tables(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("dday"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint()
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val idx = day.select(datediff(col("dday"), min("dday").over(wAll)).cast("long").as("x"), col("y"))
      val pr = idx.as("a").join(idx.as("b"), col("b.x") > col("a.x"))
        .select(floor((col("b.y") - col("a.y")).cast("double")
          / (col("b.x") - col("a.x")).cast("double") * 1000000 + 0.5).cast("long").as("s6"))
      val rk = pr.select(col("s6"),
        row_number().over(Window.orderBy("s6")).as("rn"),
        count(lit(1)).over(wAll).as("m"))
      val mid = col("rn") === expr("(m + 1) div 2") || col("rn") === expr("(m + 2) div 2")
      rk.agg(
          max("m").cast("long").as("n_pairs"),
          sum(when(mid, col("s6")).otherwise(0L)).cast("long").as("med2_raw"),
          (sum(when(mid, col("s6")).otherwise(0L)).cast("double")
            / when(max("m") % 2 === 0, 2.0).otherwise(1.0) / 1000000).as("slope"))
    },

    Q("q_agg_31_means",
      """WITH s AS (SELECT l_returnflag AS grp, CAST(floor(l_extendedprice*100+0.5) AS BIGINT) AS v FROM lineitem),
        |q AS (SELECT grp,
        |             CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lnq,
        |             CAST(floor(1000000000000.0 / CAST(v AS DOUBLE) + 0.5) AS BIGINT) AS invq
        |      FROM s),
        |st AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(lnq) AS BIGINT) AS sl, CAST(sum(invq) AS BIGINT) AS si
        |       FROM q GROUP BY grp)
        |SELECT grp, n,
        | floor(exp(CAST(sl AS DOUBLE)/CAST(n AS DOUBLE)/1000000) / 100 * 1000000 + 0.5) / 1000000 AS gmean,
        | floor(CAST(n AS DOUBLE) * 1000000000000.0 / CAST(si AS DOUBLE) / 100 * 1000000 + 0.5) / 1000000 AS hmean
        |FROM st ORDER BY grp""".stripMargin) { (s, d) =>
      // Geometric and harmonic means per return flag — the two Pythagorean
      // means Spark lacks natively (rate averaging wants harmonic;
      // multiplicative/log-normal data wants geometric). Both are float
      // reductions by definition — made order-free by quantizing the
      // per-row transform to integers BEFORE summation: ln(v) at 1e-6
      // (gmean = exp of the integer mean) and 1/v at 1e-12 (hmean =
      // n/Σ — Σinvq ≈ 4e15 at sf100, exact). ONE map-side-combinable
      // aggregate; the closed forms are a 3-row projection.
      val st = Tables(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
        .select(col("grp"),
          floor(log(col("v").cast("double")) * 1000000 + 0.5).cast("long").as("lnq"),
          floor(lit(1000000000000.0) / col("v").cast("double") + 0.5).cast("long").as("invq"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("lnq").as("sl"), sum("invq").as("si"))
      st.select(col("grp"), col("n"),
          (floor(exp(col("sl").cast("double") / col("n").cast("double") / 1000000) / 100 * 1000000 + 0.5) / 1000000).as("gmean"),
          (floor(col("n").cast("double") * 1000000000000.0 / col("si").cast("double") / 100 * 1000000 + 0.5) / 1000000).as("hmean"))
        .orderBy("grp")
    },

    Q("q_graph_7_linkpred",
      """WITH e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 200 = 0),
        |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM bidir GROUP BY 1),
        |common AS (SELECT x.src AS a, y.src AS b, CAST(count(*) AS BIGINT) AS c
        |           FROM bidir x JOIN bidir y ON x.dst = y.dst AND x.src < y.src
        |           GROUP BY 1, 2),
        |sc AS (SELECT a, b, c, da.d AS da, db.d AS db,
        |        CAST(floor(CAST(c AS DOUBLE)/CAST(da.d + db.d - c AS DOUBLE)*1000000+0.5) AS BIGINT) AS j6
        |       FROM common JOIN deg da ON common.a = da.node JOIN deg db ON common.b = db.node)
        |SELECT a, b, c, da, db, CAST(j6 AS DOUBLE)/1000000 AS jaccard, CAST(rn AS BIGINT) AS rn
        |FROM (SELECT *, row_number() OVER (ORDER BY j6 DESC, a, b) AS rn FROM sc)
        |WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
      // Link prediction by neighborhood Jaccard: top-20 supplier pairs
      // by |N(a)∩N(b)| / |N(a)∪N(b)| over the sampled handoff graph
      // (q_graph_4's graph) — the classic "who should be connected"
      // feature. The bidirectional edge list feeds the wedge self-join
      // (twice) and the degree table — checkpointed once (q_agg_30's
      // hub pattern). The wedge join is dst-partitioned: candidate
      // pairs are generated per shared neighbor (O(Σ deg²), the
      // triangle-counting shape), never all-pairs. |union| =
      // da + db − c by inclusion-exclusion — no second set pass.
      val e = graft.sources.SampledEdges.handoff(s, d, 200)
      val bidir = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .localCheckpoint()
      val deg = bidir.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      val common = bidir.as("x").join(bidir.as("y"),
          col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
        .groupBy(col("x.src").as("a"), col("y.src").as("b"))
        .agg(count(lit(1)).as("c"))
      val sc = common
        .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
        .select(col("a"), col("b"), col("c"), col("da"), col("db"),
          floor(col("c").cast("double") / (col("da") + col("db") - col("c")).cast("double") * 1000000 + 0.5)
            .cast("long").as("j6"))
      sc.withColumn("rn", row_number().over(Window.orderBy(col("j6").desc, col("a"), col("b"))))
        .filter(col("rn") <= 20)
        .select(col("a"), col("b"), col("c"), col("da"), col("db"),
          (col("j6").cast("double") / 1000000).as("jaccard"), col("rn").cast("long").as("rn"))
        .orderBy("rn")
    },

    Q("q_dq_20_corrmatrix",
      """WITH s AS (SELECT CAST(l_quantity AS BIGINT) AS q,
        |                  CAST(floor(l_extendedprice+0.5) AS BIGINT) AS p,
        |                  CAST(floor(l_discount*100+0.5) AS BIGINT) AS dd,
        |                  CAST(floor(l_tax*100+0.5) AS BIGINT) AS t
        |           FROM lineitem),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp, CAST(sum(dd) AS BIGINT) AS sd, CAST(sum(t) AS BIGINT) AS stx,
        |  CAST(sum(q*q) AS BIGINT) AS sqq, CAST(sum(p*p) AS BIGINT) AS spp, CAST(sum(dd*dd) AS BIGINT) AS sdd, CAST(sum(t*t) AS BIGINT) AS stt,
        |  CAST(sum(q*p) AS BIGINT) AS sqp, CAST(sum(q*dd) AS BIGINT) AS sqd, CAST(sum(q*t) AS BIGINT) AS sqt,
        |  CAST(sum(p*dd) AS BIGINT) AS spd, CAST(sum(p*t) AS BIGINT) AS spt, CAST(sum(dd*t) AS BIGINT) AS sdt
        | FROM s),
        |pairs AS (
        | SELECT 'quantity~price' AS pair, sq AS sa, sp AS sb, sqq AS saa, spp AS sbb, sqp AS sab, n FROM st
        | UNION ALL SELECT 'quantity~discount', sq, sd, sqq, sdd, sqd, n FROM st
        | UNION ALL SELECT 'quantity~tax', sq, stx, sqq, stt, sqt, n FROM st
        | UNION ALL SELECT 'price~discount', sp, sd, spp, sdd, spd, n FROM st
        | UNION ALL SELECT 'price~tax', sp, stx, spp, stt, spt, n FROM st
        | UNION ALL SELECT 'discount~tax', sd, stx, sdd, stt, sdt, n FROM st)
        |SELECT pair,
        | floor((CAST(n AS DOUBLE)*CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE))
        |   / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
        |        * (CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)))
        |   * 1000000 + 0.5) / 1000000 AS corr
        |FROM pairs ORDER BY pair""".stripMargin) { (s, d) =>
      // Full pairwise Pearson correlation matrix over the four numeric
      // lineitem columns in ONE corpus pass — the profiling step before
      // feature selection (q_agg_21 computes one pair; this computes
      // the matrix without rescanning per pair). 15 exact BIGINT
      // sufficient statistics (4 sums, 4 square-sums, 6 cross-sums, n)
      // from one map-side-combinable aggregate; the 6 pair rows explode
      // from the single stats row. Price is quantized to whole DOLLARS
      // (not cents): Σp² must stay under 2^63 at sf100 — at cents it
      // crosses at sf0.1. Discount/tax are basis-point integers.
      val st = Tables(s, d, "lineitem")
        .select(col("l_quantity").cast("long").as("q"),
          floor(col("l_extendedprice") + 0.5).cast("long").as("p"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("dd"),
          floor(col("l_tax") * 100 + 0.5).cast("long").as("t"))
        .agg(count(lit(1)).as("n"),
          sum("q").as("sq"), sum("p").as("sp"), sum("dd").as("sd"), sum("t").as("stx"),
          sum(col("q") * col("q")).as("sqq"), sum(col("p") * col("p")).as("spp"),
          sum(col("dd") * col("dd")).as("sdd"), sum(col("t") * col("t")).as("stt"),
          sum(col("q") * col("p")).as("sqp"), sum(col("q") * col("dd")).as("sqd"),
          sum(col("q") * col("t")).as("sqt"), sum(col("p") * col("dd")).as("spd"),
          sum(col("p") * col("t")).as("spt"), sum(col("dd") * col("t")).as("sdt"))
      def pairStruct(name: String, sa: String, sb: String, saa: String, sbb: String, sab: String) =
        struct(lit(name).as("pair"), col(sa).as("sa"), col(sb).as("sb"),
          col(saa).as("saa"), col(sbb).as("sbb"), col(sab).as("sab"), col("n").as("nn"))
      val pairs = st.select(explode(array(
          pairStruct("quantity~price", "sq", "sp", "sqq", "spp", "sqp"),
          pairStruct("quantity~discount", "sq", "sd", "sqq", "sdd", "sqd"),
          pairStruct("quantity~tax", "sq", "stx", "sqq", "stt", "sqt"),
          pairStruct("price~discount", "sp", "sd", "spp", "sdd", "spd"),
          pairStruct("price~tax", "sp", "stx", "spp", "stt", "spt"),
          pairStruct("discount~tax", "sd", "stx", "sdd", "stt", "sdt"))).as("e"))
        .select(col("e.*"))
      val nD = col("nn").cast("double")
      pairs.select(col("pair"),
          (floor((nD * col("sab").cast("double") - col("sa").cast("double") * col("sb").cast("double"))
            / sqrt((nD * col("saa").cast("double") - col("sa").cast("double") * col("sa").cast("double"))
              * (nD * col("sbb").cast("double") - col("sb").cast("double") * col("sb").cast("double")))
            * 1000000 + 0.5) / 1000000).as("corr"))
        .orderBy("pair")
    },

    Q("q_text_27_confusion",
      """WITH p AS (SELECT lang,
        |  CASE WHEN s_data >= s_query AND s_data >= s_row THEN 'cat_data'
        |       WHEN s_query >= s_row THEN 'cat_query' ELSE 'cat_row' END AS predicted
        | FROM (SELECT lang,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('data', 'table', 'spark'))) AS BIGINT) AS s_data,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('query', 'filter', 'join'))) AS BIGINT) AS s_query,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('row', 'group', 'small'))) AS BIGINT) AS s_row
        |  FROM documents)),
        |cells AS (SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1,2)
        |SELECT lang, predicted, n,
        | CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
        | floor(CAST(n AS DOUBLE)/CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)*1000000+0.5)/1000000 AS share
        |FROM cells ORDER BY lang, predicted""".stripMargin) { (s, d) =>
      // Classifier-evaluation cross-tab: q_text_4's keyword-argmax
      // prediction against the labeled lang column, with per-label row
      // shares — the confusion-matrix primitive every labeling/filtering
      // model ships with. ONE scan: per-row argmax (same scoring
      // expressions as q_text_4, same fixed tie-break), a
      // |labels|·|classes|-bounded count aggregate, and row totals
      // riding that table as a window.
      def score(c: org.apache.spark.sql.Column, markers: Seq[String]) =
        size(filter(tokens(c), t => t.isin(markers: _*))).cast("long")
      val p = Tables(s, d, "documents")
        .select(col("lang"),
          score(col("text"), Seq("data", "table", "spark")).as("s_data"),
          score(col("text"), Seq("query", "filter", "join")).as("s_query"),
          score(col("text"), Seq("row", "group", "small")).as("s_row"))
        .select(col("lang"),
          when(col("s_data") >= col("s_query") && col("s_data") >= col("s_row"), "cat_data")
            .when(col("s_query") >= col("s_row"), "cat_query")
            .otherwise("cat_row").as("predicted"))
      val cells = p.groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      cells.withColumn("n_lang", sum("n").over(Window.partitionBy("lang")))
        .select(col("lang"), col("predicted"), col("n"), col("n_lang"),
          (floor(col("n").cast("double") / col("n_lang").cast("double") * 1000000 + 0.5) / 1000000).as("share"))
        .orderBy("lang", "predicted")
    },

    Q("q_time_6_seasonality",
      """WITH day AS (SELECT CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS dday, CAST(count(*) AS BIGINT) AS x
        |             FROM events GROUP BY 1),
        |dev AS (SELECT dday, x, isodow(dday) AS dow,
        |               CAST(count(*) OVER () AS BIGINT) AS n, CAST(sum(x) OVER () AS BIGINT) AS s FROM day),
        |tot AS (SELECT CAST(sum((n*x - s)*(n*x - s)) AS BIGINT) AS ss_tot FROM dev),
        |wd AS (SELECT dow, CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sw,
        |              CAST(max(n) AS BIGINT) AS n, CAST(max(s) AS BIGINT) AS s
        |       FROM dev GROUP BY dow),
        |btw AS (SELECT dow, m, sw, n, s,
        |         CAST(floor((CAST(n AS DOUBLE)*CAST(sw AS DOUBLE) - CAST(m AS DOUBLE)*CAST(s AS DOUBLE))
        |              * (CAST(n AS DOUBLE)*CAST(sw AS DOUBLE) - CAST(m AS DOUBLE)*CAST(s AS DOUBLE))
        |              / CAST(m AS DOUBLE) + 0.5) AS BIGINT) AS bq
        |        FROM wd)
        |SELECT CAST(dow AS BIGINT) AS dow, m,
        |       floor(CAST(sw AS DOUBLE)/CAST(m AS DOUBLE)*1000000+0.5)/1000000 AS mean_events,
        |       floor(CAST(sum(bq) OVER () AS DOUBLE)/CAST(tot.ss_tot AS DOUBLE)*1000000+0.5)/1000000 AS strength
        |FROM btw, tot ORDER BY dow""".stripMargin) { (s, d) =>
      // Weekday seasonality profile + strength: per-ISO-weekday mean
      // daily event count and the share of day-to-day variance explained
      // by weekday (SS_between/SS_total — ANOVA's R², the seasonality-
      // strength readout that decides whether a forecast needs a weekly
      // component). The n²-scaled deviations (q_time_5's trick) keep
      // SS_total an exact BIGINT; the between terms (n·Sw − m·S)²/m are
      // fixed IEEE expressions quantized to integers before the 7-row
      // sum. Day table checkpointed (totals branch + weekday branch);
      // ISO weekday = Spark weekday()+1 ≡ DuckDB isodow.
      val day = Tables(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("dday"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val dev = day.select(col("dday"), col("x"), (weekday(col("dday")) + 1).as("dow"),
        count(lit(1)).over(wAll).as("n"), sum("x").over(wAll).as("s"))
      val tot = dev.agg(sum((col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s"))).as("ss_tot"))
      val wd = dev.groupBy("dow")
        .agg(count(lit(1)).as("m"), sum("x").as("sw"), max("n").as("n"), max("s").as("s"))
      val diff = col("n").cast("double") * col("sw").cast("double") - col("m").cast("double") * col("s").cast("double")
      val btw = wd.select(col("dow"), col("m"), col("sw"),
        floor(diff * diff / col("m").cast("double") + 0.5).cast("long").as("bq"))
      btw.crossJoin(broadcast(tot))
        .select(col("dow").cast("long").as("dow"), col("m"),
          (floor(col("sw").cast("double") / col("m").cast("double") * 1000000 + 0.5) / 1000000).as("mean_events"),
          (floor(sum("bq").over(wAll).cast("double") / col("ss_tot").cast("double") * 1000000 + 0.5) / 1000000).as("strength"))
        .orderBy("dow")
    },

    Q("q_dq_21_keycand",
      """WITH st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d_okey,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_cust,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d_status,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d_prio
        | FROM orders),
        |cols AS (
        | SELECT 'o_orderkey' AS col, d_okey AS nd, n FROM st
        | UNION ALL SELECT 'o_custkey', d_cust, n FROM st
        | UNION ALL SELECT 'o_orderstatus', d_status, n FROM st
        | UNION ALL SELECT 'o_orderpriority', d_prio, n FROM st)
        |SELECT col, nd, n, floor(CAST(nd AS DOUBLE)/CAST(n AS DOUBLE)*1000000+0.5)/1000000 AS uniqueness,
        |       CASE WHEN nd = n THEN 1 ELSE 0 END AS is_key
        |FROM cols ORDER BY col""".stripMargin) { (s, d) =>
      // Key-candidate profile: per-column distinct count, uniqueness
      // ratio, and an is-key flag — the first question schema discovery
      // asks of an unknown table (q_dq_19's FD audit presumes candidate
      // keys; this finds them). ONE logical pass: Spark plans the four
      // exact distincts as a single Expand (4× row multiply, one
      // shuffle) — at 100 TB swap exact distinct for HLL
      // (approx_count_distinct / q_udaf_2's sketch) to drop the Expand.
      // The 4 column rows explode from the single stats row.
      val st = Tables(s, d, "orders")
        .agg(count(lit(1)).as("n"),
          countDistinct("o_orderkey").as("d_okey"),
          countDistinct("o_custkey").as("d_cust"),
          countDistinct("o_orderstatus").as("d_status"),
          countDistinct("o_orderpriority").as("d_prio"))
      def colStruct(name: String, nd: String) =
        struct(lit(name).as("col"), col(nd).as("nd"), col("n").as("nn"))
      st.select(explode(array(
          colStruct("o_orderkey", "d_okey"), colStruct("o_custkey", "d_cust"),
          colStruct("o_orderstatus", "d_status"), colStruct("o_orderpriority", "d_prio"))).as("e"))
        .select(col("e.col").as("col"), col("e.nd").as("nd"), col("e.nn").as("n"),
          (floor(col("e.nd").cast("double") / col("e.nn").cast("double") * 1000000 + 0.5) / 1000000).as("uniqueness"),
          when(col("e.nd") === col("e.nn"), 1).otherwise(0).as("is_key"))
        .orderBy("col")
    },

    Q("q_sim_17_silhouette",
      """WITH e AS (
        | SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS val
        | FROM embeddings WHERE vec_id < 200),
        |c0 AS (SELECT vec_id AS cid, pos, val AS c FROM e WHERE vec_id < 4),
        |d1 AS (SELECT e.vec_id, c.cid, sum((e.val - c.c) * (e.val - c.c)) AS d2
        |       FROM e JOIN c0 c ON e.pos = c.pos GROUP BY e.vec_id, c.cid),
        |a1 AS (SELECT vec_id, cid FROM (
        |       SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1)
        |       WHERE rn = 1),
        |c1 AS (SELECT a1.cid, e.pos, avg(e.val) AS c FROM e JOIN a1 ON e.vec_id = a1.vec_id GROUP BY a1.cid, e.pos),
        |d2t AS (SELECT e.vec_id, c.cid, sum((e.val - c.c) * (e.val - c.c)) AS d2
        |        FROM e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.cid),
        |rk AS (SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2t),
        |ab AS (SELECT a.vec_id, a.cid AS cluster,
        |        CAST(floor((sqrt(b.d2) - sqrt(a.d2)) / greatest(sqrt(a.d2), sqrt(b.d2)) * 1000000 + 0.5) AS BIGINT) AS s6
        |       FROM (SELECT * FROM rk WHERE rn = 1) a JOIN (SELECT * FROM rk WHERE rn = 2) b ON a.vec_id = b.vec_id)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
        |       floor(CAST(sum(s6) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 1000000 AS mean_silhouette
        |FROM ab GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, d) =>
      // Simplified (centroid-based) silhouette of the trained k-means:
      // per vector s = (b − a)/max(a, b) with a = distance to own
      // centroid, b = distance to the second-nearest — the internal
      // cluster-quality readout pairing q_sim_15's external purity
      // (same training as q_sim_7, spec-pinned). Per-row s is quantized
      // to 1e-6 BEFORE the per-cluster mean, so the reduction is an
      // integer sum. The distance ranking explodes k=4 broadcast
      // centroids per row; at 100 TB a two-argmin native expression
      // (argmin_sqdist's sibling) removes the n·k window shuffle.
      graft.expressions.VectorExpressions.register(s)
      val e = Tables(s, d, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      val init = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      // checkpoint the trained 4-row centroid table: without it the
      // whole Lloyd subtree re-executes for the broadcast AND the main
      // plan (observed 7.9 s → sub-second)
      val cents = KMeans.update(KMeans.assign(e, init)).localCheckpoint()
      val d2 = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          graft.functions.VectorFunctions.sqDist(col("v"), col("cvec")).as("d2"))
      val rk = d2.withColumn("rn",
        row_number().over(Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))))
      // best + second-best in ONE conditional aggregation — an
      // rn=1 ⋈ rn=2 self-join would duplicate the whole ranking subtree
      // (2 embeddings scans observed)
      val ab = rk.filter(col("rn") <= 2)
        .groupBy("vec_id")
        .agg(max(when(col("rn") === 1, col("cid"))).as("cluster"),
          max(when(col("rn") === 1, col("d2"))).as("da"),
          max(when(col("rn") === 2, col("d2"))).as("db"))
        .select(col("cluster"),
          floor((sqrt(col("db")) - sqrt(col("da"))) / greatest(sqrt(col("da")), sqrt(col("db")))
            * 1000000 + 0.5).cast("long").as("s6"))
      ab.groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          (floor(sum("s6").cast("double") / count(lit(1)).cast("double") + 0.5) / 1000000).as("mean_silhouette"))
        .orderBy("cluster")
    },

    Q("q_text_28_compression",
      """WITH per AS (SELECT lang, CAST(n_chars AS BIGINT) AS nc,
        |                    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |             FROM documents),
        |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(sum(nc) AS BIGINT) AS chars, CAST(sum(nt) AS BIGINT) AS toks,
        |              CAST(min(floor(CAST(nc AS DOUBLE)/CAST(nt AS DOUBLE)*1000000+0.5)) AS BIGINT) AS min_r6,
        |              CAST(max(floor(CAST(nc AS DOUBLE)/CAST(nt AS DOUBLE)*1000000+0.5)) AS BIGINT) AS max_r6
        |       FROM per GROUP BY lang)
        |SELECT lang, n_docs, chars, toks,
        |       floor(CAST(chars AS DOUBLE)/CAST(toks AS DOUBLE)*1000000+0.5)/1000000 AS chars_per_token,
        |       CAST(min_r6 AS DOUBLE)/1000000 AS min_ratio, CAST(max_r6 AS DOUBLE)/1000000 AS max_ratio
        |FROM st ORDER BY lang""".stripMargin) { (s, d) =>
      // Tokenizer compression ratio per language: chars-per-token of the
      // corpus plus the per-doc min/max spread — the fertility metric
      // that decides whether a tokenizer (here the whitespace baseline)
      // treats every language fairly; the q_text_6 token counts' cost
      // lens. ONE scan: integer char/token sums per language (exact
      // corpus ratio from BIGINTs), per-doc ratios quantized to 1e-6
      // BEFORE min/max so the extremes are engine-stable integers.
      val per = Tables(s, d, "documents")
        .select(col("lang"), col("n_chars").cast("long").as("nc"),
          size(tokens(col("text"))).cast("long").as("nt"))
      val r6 = floor(col("nc").cast("double") / col("nt").cast("double") * 1000000 + 0.5)
      per.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nc").as("chars"), sum("nt").as("toks"),
          min(r6).cast("long").as("min_r6"), max(r6).cast("long").as("max_r6"))
        .select(col("lang"), col("n_docs"), col("chars"), col("toks"),
          (floor(col("chars").cast("double") / col("toks").cast("double") * 1000000 + 0.5) / 1000000).as("chars_per_token"),
          (col("min_r6").cast("double") / 1000000).as("min_ratio"),
          (col("max_r6").cast("double") / 1000000).as("max_ratio"))
        .orderBy("lang")
    },
  )
}
