package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11z): inference extensions —
  * partial correlation, multiple-testing control (Benjamini–Hochberg),
  * paired-binary McNemar, Grubbs outlier statistic, a deterministic
  * half-sample bootstrap CI, Bartlett's variance homogeneity, and OLS
  * influence diagnostics (leverage + Cook's distance).
  *
  * Determinism discipline (§2.12): all cross-row accumulation happens
  * on exact BIGINT power sums (values pre-quantized to cents /
  * hundredths); `ln`/`sqrt` run once per GROUP on exact rational
  * inputs with their outputs floor-quantized before any further
  * combination; the bootstrap's resample membership is the repo's
  * overflow-safe multiplicative hash, reproducible on both engines.
  */
object Round5qOps {

  val all: Seq[Q] = Seq(

    // Partial correlation r(qty, price | discount) per returnflag —
    // does quantity still track price once the discount channel is
    // controlled away? (Raw correlation mixes the two paths.)
    Q("q_stat_24_partial_corr",
      """WITH s AS (
        | SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
        |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sz,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS syy,
        |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS szz,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxz,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS syz
        | FROM lineitem GROUP BY 1),
        |r AS (SELECT l_returnflag,
        |  floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |   / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) * 1000000 + 0.5) / 1000000 AS rxy,
        |  floor((CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
        |   / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)) * 1000000 + 0.5) / 1000000 AS rxz,
        |  floor((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
        |   / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)) * 1000000 + 0.5) / 1000000 AS ryz
        | FROM s)
        |SELECT l_returnflag, rxy,
        | floor((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) * 1000000 + 0.5) / 1000000 AS r_partial
        |FROM r ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Ten exact power sums per group (map-side combinable: one
      // shuffle of 10 numbers per returnflag at any scale); the three
      // pairwise correlations quantize to 1e-6 BEFORE the partial-corr
      // recursion so that is a fixed IEEE chain over stable inputs.
      val q = col("l_quantity").cast("long")
      val p = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val z = floor(col("l_discount") * 100 + 0.5).cast("long")
      val st = Tables(s, d, "lineitem")
        .select(col("l_returnflag"), q.as("x"), p.as("y"), z.as("z"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("z") * col("z")).as("szz"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"))
      def dbl(c: String) = col(c).cast("double")
      def corr6(sab: String, a: String, b: String, saa: String, sbb: String) =
        floor((dbl("n") * col(sab) - dbl(a) * col(b))
          / sqrt((dbl("n") * col(saa) - dbl(a) * col(a)) * (dbl("n") * col(sbb) - dbl(b) * col(b)))
          * 1000000 + 0.5) / 1000000
      val r = st.select(col("l_returnflag"),
        corr6("sxy", "sx", "sy", "sxx", "syy").as("rxy"),
        corr6("sxz", "sx", "sz", "sxx", "szz").as("rxz"),
        corr6("syz", "sy", "sz", "syy", "szz").as("ryz"))
      r.select(col("l_returnflag"), col("rxy"),
        round((col("rxy") - col("rxz") * col("ryz"))
          / sqrt((lit(1) - col("rxz") * col("rxz")) * (lit(1) - col("ryz") * col("ryz"))), 6)
          .as("r_partial"))
        .orderBy("l_returnflag")
    },

    // Benjamini–Hochberg FDR over 25 per-nation mean tests with
    // distribution-free Chebyshev p-values (p = min(1, 1/z²)) — which
    // nations' mean balances deviate, controlling the false-discovery
    // rate at α = 0.1 instead of per-test α (25 tests ⇒ ~2.5 false
    // positives uncontrolled).
    Q("q_stat_25_bh_fdr",
      """WITH c AS (SELECT c_nationkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS gn, CAST(sum(cents) AS BIGINT) AS gs,
        |  CAST(sum(cents * cents) AS BIGINT) AS gss FROM c),
        |per AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s FROM c GROUP BY 1),
        |zed AS (SELECT c_nationkey, n,
        |  floor(abs((CAST(s AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn)
        |    / sqrt((CAST(gss AS DOUBLE) / gn - (CAST(gs AS DOUBLE) / gn) * (CAST(gs AS DOUBLE) / gn)) / n)) * 1000000 + 0.5) AS z6
        | FROM per, g),
        |pv AS (SELECT c_nationkey, z6 / 1000000.0 AS z,
        |  CASE WHEN z6 <= 1000000 THEN 1000000
        |       ELSE CAST(floor(1000000.0 / ((z6 / 1000000.0) * (z6 / 1000000.0)) + 0.5) AS BIGINT) END AS p6
        | FROM zed),
        |rk AS (SELECT c_nationkey, z, p6,
        |  row_number() OVER (ORDER BY p6, c_nationkey) AS k FROM pv),
        |km AS (SELECT max(CASE WHEN p6 * 250 <= k * 1000000 THEN k ELSE 0 END) AS kmax FROM rk)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey, z, p6 / 1000000.0 AS p_value,
        | CAST(CASE WHEN k <= kmax THEN 1 ELSE 0 END AS BIGINT) AS rejected
        |FROM rk, km ORDER BY k""".stripMargin) { (s, d) =>
      // p6·m/α ≤ k·1e6 with m = 25, α = 0.1 ⇒ p6·250 ≤ k·1e6: the BH
      // step-up rule as an exact integer comparison. The global moment
      // row broadcasts; ranking runs over 25 rows.
      val c = Tables(s, d, "customer")
        .select(col("c_nationkey"), floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
      val g = c.agg(count(lit(1)).as("gn"), sum("cents").as("gs"),
        sum(col("cents") * col("cents")).as("gss"))
      val per = c.groupBy("c_nationkey").agg(count(lit(1)).as("n"), sum("cents").as("s"))
      def dbl(c0: org.apache.spark.sql.Column) = c0.cast("double")
      val gm = dbl(col("gs")) / col("gn")
      val zed = per.crossJoin(broadcast(g))
        .select(col("c_nationkey"), col("n"),
          floor(abs((dbl(col("s")) / col("n") - gm)
            / sqrt((dbl(col("gss")) / col("gn") - gm * gm) / col("n"))) * 1000000 + 0.5)
            .as("z6"))
      val pv = zed.select(col("c_nationkey"), (col("z6") / 1000000.0).as("z"),
        when(col("z6") <= 1000000L, lit(1000000L))
          .otherwise(floor(lit(1000000.0) / ((col("z6") / 1000000.0) * (col("z6") / 1000000.0)) + 0.5)
            .cast("long")).as("p6"))
      graft.api.Pipelines.benjaminiHochberg(pv, "c_nationkey", "p6", 250L)
        .select(col("c_nationkey").cast("long").as("nationkey"), col("z"),
          (col("p6") / 1000000.0).as("p_value"), col("rejected"), col("k"))
        .orderBy("k").drop("k")
    },

    // McNemar's paired-binary test: did users' HIGH-VALUE purchase
    // behavior (value > 100) change between the first and second half
    // of the observation window? (An unpaired two-sample test wastes
    // the pairing; McNemar uses only the discordant users. The plain
    // "any purchase" outcome is concordant for every fixture user —
    // the rarer outcome makes the discordant cells live.)
    Q("q_stat_26_mcnemar",
      """WITH bounds AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
        |u AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' AND value > 100 AND epoch_us(ts) * 2 < (SELECT lo + hi FROM bounds) THEN 1 ELSE 0 END) AS first_half,
        |  max(CASE WHEN event_type = 'purchase' AND value > 100 AND epoch_us(ts) * 2 >= (SELECT lo + hi FROM bounds) THEN 1 ELSE 0 END) AS second_half
        | FROM events GROUP BY 1)
        |SELECT CAST(sum(CASE WHEN first_half = 0 AND second_half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        | CAST(sum(CASE WHEN first_half = 0 AND second_half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        | CAST(sum(CASE WHEN first_half = 1 AND second_half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        | CAST(sum(CASE WHEN first_half = 1 AND second_half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        | CASE WHEN sum(CASE WHEN first_half <> second_half THEN 1 ELSE 0 END) = 0 THEN 0.0
        |  ELSE floor(CAST((sum(CASE WHEN first_half = 0 AND second_half = 1 THEN 1 ELSE 0 END)
        |   - sum(CASE WHEN first_half = 1 AND second_half = 0 THEN 1 ELSE 0 END)) AS DOUBLE)
        |  * (sum(CASE WHEN first_half = 0 AND second_half = 1 THEN 1 ELSE 0 END)
        |   - sum(CASE WHEN first_half = 1 AND second_half = 0 THEN 1 ELSE 0 END))
        |  / (sum(CASE WHEN first_half = 0 AND second_half = 1 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN first_half = 1 AND second_half = 0 THEN 1 ELSE 0 END)) * 10000 + 0.5) / 10000 END AS chi2
        |FROM u""".stripMargin) { (s, d) =>
      // The midpoint predicate `2·us < lo+hi` avoids the division (an
      // exact integer comparison both engines agree on); the per-user
      // pair is two max-flags in ONE events pass; the 2×2 table and the
      // (b−c)²/(b+c) statistic are pure integers until the final ratio.
      val ev = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"), col("value"), expr("unix_micros(ts)").as("us"))
        .localCheckpoint()
      val b = ev.agg((min("us") + max("us")).as("lohi"))
      val u = ev.crossJoin(broadcast(b))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" && col("value") > 100 && col("us") * 2 < col("lohi"), 1)
            .otherwise(0)).as("first_half"),
          max(when(col("event_type") === "purchase" && col("value") > 100 && col("us") * 2 >= col("lohi"), 1)
            .otherwise(0)).as("second_half"))
      val n01 = sum(when(col("first_half") === 0 && col("second_half") === 1, 1).otherwise(0))
      val n10 = sum(when(col("first_half") === 1 && col("second_half") === 0, 1).otherwise(0))
      u.agg(
        sum(when(col("first_half") === 0 && col("second_half") === 0, 1).otherwise(0)).cast("long").as("n00"),
        n01.cast("long").as("n01"), n10.cast("long").as("n10"),
        sum(when(col("first_half") === 1 && col("second_half") === 1, 1).otherwise(0)).cast("long").as("n11"),
        when(n01 + n10 === 0, lit(0.0))
          .otherwise(round((n01 - n10).cast("double") * (n01 - n10) / (n01 + n10), 4)).as("chi2"))
    },

    // Grubbs' outlier statistic per nation: G = max|x−mean|/sd over
    // customer balances, plus WHICH customer attains it — the argmax is
    // decided on an exact integer criterion (|n·x − Σx| in cents·n),
    // so the flagged row can never flip on float noise.
    Q("q_stat_27_grubbs",
      """WITH c AS (SELECT c_custkey, c_nationkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer),
        |st AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
        |  CAST(sum(cents * cents) AS BIGINT) AS ss FROM c GROUP BY 1),
        |dev AS (SELECT c.c_custkey, c.c_nationkey, st.n, st.s, st.ss,
        |  abs(st.n * c.cents - st.s) AS d,
        |  row_number() OVER (PARTITION BY c.c_nationkey ORDER BY abs(st.n * c.cents - st.s) DESC, c.c_custkey) AS rn
        | FROM c, st WHERE c.c_nationkey = st.c_nationkey)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_custkey AS outlier_custkey,
        | floor(CAST(d AS DOUBLE) / n / sqrt((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * n * (n - 1))) / n * 1000000 + 0.5) / 1000000 AS g_stat
        |FROM dev WHERE rn = 1 ORDER BY nationkey""".stripMargin) { (s, d) =>
      // G = (|n·x−Σx|/n²) / sqrt((n·Σx²−(Σx)²)/(n²(n−1))): every input
      // to the final expression is an exact integer; the per-nation
      // argmax runs as a row_number window on the integer deviation.
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
      val st = c.groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n"), sum("cents").as("s"),
          sum(col("cents") * col("cents")).as("ss"))
      val dev = c.join(broadcast(st), col("c_nationkey") === col("nk"))
        .withColumn("d", abs(col("n") * col("cents") - col("s")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_nationkey").orderBy(col("d").desc, col("c_custkey"))))
        .filter(col("rn") === 1)
      def dbl(c0: String) = col(c0).cast("double")
      dev.select(col("c_nationkey").cast("long").as("nationkey"),
        col("c_custkey").as("outlier_custkey"),
        round(dbl("d") / col("n")
          / sqrt((dbl("ss") * col("n") - dbl("s") * col("s"))
            / (dbl("n") * col("n") * (col("n") - 1))) / col("n"), 6).as("g_stat"))
        .orderBy("nationkey")
    },

    // Deterministic half-sample bootstrap CI for the mean order value:
    // 32 replicates, each the mean over a hash-selected half of the
    // orders — reproducible on any engine/partitioning (no RNG), the
    // percentile picks exact order statistics of the 32 replicate means.
    Q("q_stat_28_bootstrap_ci",
      """WITH o AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |reps AS (SELECT b.b, CAST(count(*) AS BIGINT) AS n, CAST(sum(o.cents) AS BIGINT) AS s
        | FROM o, (SELECT unnest(range(1, 33)) AS b) b
        | WHERE ((o.o_orderkey + b.b * 131) % 1000000007) * 2654435761 % 1000000007 < 500000003
        | GROUP BY 1),
        |means AS (SELECT b, CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS mean_c FROM reps),
        |pt AS (SELECT floor(CAST(sum(cents) AS DOUBLE) / count(*) / 100 * 100 + 0.5) / 100 AS mean_all FROM o),
        |srt AS (SELECT list_sort(list(mean_c)) AS ms FROM means)
        |SELECT pt.mean_all,
        | floor(CAST(ms[2] AS DOUBLE) / 100 * 100 + 0.5) / 100 AS ci_lo,
        | floor(CAST(ms[31] AS DOUBLE) / 100 * 100 + 0.5) / 100 AS ci_hi
        |FROM pt, srt""".stripMargin) { (s, d) =>
      graft.api.Pipelines.bootstrapMeanCI(Tables(s, d, "orders")
          .select(col("o_orderkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
        "o_orderkey", "cents")
    },

    // Bartlett's test for variance homogeneity across the three
    // returnflag groups — are the price spreads equal? (ANOVA q_stat_11
    // assumes they are; this is the check.)
    Q("q_stat_29_bartlett",
      """WITH c AS (SELECT l_returnflag, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents FROM lineitem),
        |st AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
        |  CAST(sum(cents * cents) AS BIGINT) AS ss FROM c GROUP BY 1),
        |v AS (SELECT l_returnflag, n,
        |  floor((CAST(ss AS DOUBLE) * n - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1)) + 0.5) AS vi
        | FROM st),
        |terms AS (SELECT n, vi,
        |  CAST(floor((n - 1) * ln(vi) * 1000000 + 0.5) AS BIGINT) AS lnterm6,
        |  CAST(n - 1 AS BIGINT) AS df FROM v),
        |agg AS (SELECT CAST(sum(df) AS BIGINT) AS dftot, CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(lnterm6) AS BIGINT) AS sum_ln6,
        |  floor(sum(df * vi) / CAST(sum(df) AS DOUBLE) + 0.5) AS vp,
        |  floor(sum(1000000.0 / df) + 0.5) AS invdf6 FROM terms)
        |SELECT CAST(k AS BIGINT) AS k,
        | floor((dftot * ln(vp) - sum_ln6 / 1000000.0)
        |   / (1 + (invdf6 / 1000000.0 - 1.0 / dftot) / (3.0 * (k - 1))) * 10000 + 0.5) / 10000 AS t_stat
        |FROM agg""".stripMargin) { (s, d) =>
      // Each group's variance is an exact-moment rational rounded to
      // integer cents² BEFORE ln (the house entropy/BM25 pattern), so
      // the k ln() calls see identical doubles on both engines; the
      // (n−1)·ln(v) terms quantize at 1e-6 before the k-row sum.
      val c = Tables(s, d, "lineitem")
        .select(col("l_returnflag"), floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      val st = c.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"), sum(col("cents") * col("cents")).as("ss"))
      def dbl(c0: String) = col(c0).cast("double")
      val v = st.select(col("n"),
        floor((dbl("ss") * col("n") - dbl("s") * col("s"))
          / (dbl("n") * (col("n") - 1)) + 0.5).as("vi"))
      val terms = v.select(col("n"), col("vi"),
        floor((col("n") - 1) * log(col("vi")) * 1000000 + 0.5).cast("long").as("lnterm6"),
        (col("n") - 1).cast("long").as("df"))
      val agg = terms.agg(sum("df").as("dftot"), count(lit(1)).as("k"),
        sum("lnterm6").as("sum_ln6"),
        floor(sum(col("df") * col("vi")) / sum("df").cast("double") + 0.5).as("vp"),
        floor(sum(lit(1000000.0) / col("df")) + 0.5).as("invdf6"))
      agg.select(col("k").cast("long").as("k"),
        round((col("dftot") * log(col("vp")) - col("sum_ln6") / 1000000.0)
          / (lit(1) + (col("invdf6") / 1000000.0 - lit(1.0) / col("dftot"))
            / (lit(3.0) * (col("k") - 1))), 4).as("t_stat"))
    },

    // OLS influence diagnostics on the daily-revenue trend: leverage
    // h_i and Cook's distance per day, top 10 — WHICH days drive the
    // fitted slope (a spike at the window edge moves the line far more
    // than the same spike mid-window; residual size alone misses that).
    Q("q_stat_30_influence",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS x,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy FROM day),
        |fit AS (SELECT day.x, day.y, m.n,
        |  (CAST(m.n AS DOUBLE) * m.sxy - CAST(m.sx AS DOUBLE) * m.sy) / (CAST(m.n AS DOUBLE) * m.sxx - CAST(m.sx AS DOUBLE) * m.sx) AS b,
        |  1.0 / m.n + (CAST(m.n AS DOUBLE) * day.x - m.sx) * (CAST(m.n AS DOUBLE) * day.x - m.sx)
        |    / (CAST(m.n AS DOUBLE) * m.n * (m.sxx - CAST(m.sx AS DOUBLE) * m.sx / m.n)) AS h,
        |  m.sy, m.sx FROM day, m),
        |res AS (SELECT x, h,
        |  CAST(floor((y - (CAST(sy AS DOUBLE) / n - b * sx / n + b * x)) + 0.5) AS BIGINT) AS e_c
        | FROM fit),
        |sse AS (SELECT CAST(sum(e_c * e_c) AS BIGINT) AS sse_cc, CAST(count(*) AS BIGINT) AS n FROM res)
        |SELECT CAST(res.x AS BIGINT) AS day,
        | floor(res.h * 1000000 + 0.5) / 1000000 AS leverage,
        | floor((CAST(res.e_c AS DOUBLE) * res.e_c / (2.0 * sse.sse_cc / (sse.n - 2)))
        |   * (res.h / ((1 - res.h) * (1 - res.h))) * 1000000 + 0.5) / 1000000 AS cooks_d
        |FROM res, sse
        |ORDER BY cooks_d DESC, day LIMIT 10""".stripMargin) { (s, d) =>
      // Exact integer moments → slope/leverage as fixed IEEE
      // expressions; residuals round to integer cents BEFORE the SSE
      // sum (the one cross-row float reduction, made exact); Cook's D
      // is then one deterministic expression per day.
      val day = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("x"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("y"))
        .localCheckpoint()
      val m = day.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"))
      def dbl(c0: String) = col(c0).cast("double")
      val fit = day.crossJoin(broadcast(m))
        .withColumn("b", (dbl("n") * col("sxy") - dbl("sx") * col("sy"))
          / (dbl("n") * col("sxx") - dbl("sx") * col("sx")))
        .withColumn("h", lit(1.0) / col("n")
          + (dbl("n") * col("x") - col("sx")) * (dbl("n") * col("x") - col("sx"))
          / (dbl("n") * col("n") * (col("sxx") - dbl("sx") * col("sx") / col("n"))))
      val res = fit.select(col("x"), col("h"),
        floor((col("y") - (dbl("sy") / col("n") - col("b") * col("sx") / col("n")
          + col("b") * col("x"))) + 0.5).cast("long").as("e_c"))
      val sse = res.agg(sum(col("e_c") * col("e_c")).as("sse_cc"), count(lit(1)).as("nn"))
      res.crossJoin(broadcast(sse))
        .select(col("x").cast("long").as("day"),
          round(col("h"), 6).as("leverage"),
          round((col("e_c").cast("double") * col("e_c")
            / (lit(2.0) * col("sse_cc") / (col("nn") - 2)))
            * (col("h") / ((lit(1) - col("h")) * (lit(1) - col("h")))), 6).as("cooks_d"))
        .orderBy(col("cooks_d").desc, col("day")).limit(10)
    }
  )
}
