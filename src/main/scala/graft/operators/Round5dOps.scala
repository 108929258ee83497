package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 continuation (SURVEY §2.11m): last-touch attribution,
  * categorical association strength (Cramér's V), inequality
  * decomposition (Theil T), offline changepoint detection, an
  * embedding effective-dimensionality audit, the Heaps'-law vocabulary
  * growth fit, and a traffic-concentration (power-user) audit.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-cell/per-row transcendentals floor-quantized to integers BEFORE
  * any cross-row sum; one fixed-shape IEEE expression per emitted float,
  * mirrored verbatim in DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5dOps {

  val all: Seq[Q] = Seq(

    Q("q_stream_17_attribution",
      """WITH w AS (SELECT event_id, user_id, ts, event_type,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_type,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_us
        | FROM events),
        |p AS (SELECT COALESCE(src_type, 'none') AS channel,
        |  CASE WHEN src_us IS NOT NULL THEN epoch_us(ts) - src_us END AS gap_us
        | FROM w WHERE event_type = 'purchase'),
        |g AS (SELECT channel, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(gap_us) AS BIGINT) AS gsum, CAST(count(gap_us) AS BIGINT) AS gn FROM p GROUP BY 1),
        |t AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS tot FROM g)
        |SELECT channel, n,
        | floor(CAST(n AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS share,
        | CASE WHEN gn > 0 THEN floor(CAST(gsum AS DOUBLE) / gn / 60000000 * 100 + 0.5) / 100 ELSE 0.0 END AS mean_gap_min
        |FROM t ORDER BY channel""".stripMargin) { (s, d) =>
      // Last-touch attribution: each purchase is credited to the user's
      // most recent PRECEDING non-purchase event — the standard
      // marketing-attribution readout (which touchpoint "closed" the
      // sale, and how long before).
      graft.api.Pipelines.lastTouchAttribution(Tables(s, d, "events"), "user_id", "ts",
          "event_type", "purchase", "event_id")
        .orderBy("channel")
    },

    Q("q_stat_17_cramers_v",
      """WITH c AS (SELECT o_orderstatus AS a, o_orderpriority AS b, CAST(count(*) AS BIGINT) AS o FROM orders GROUP BY 1, 2),
        |t AS (SELECT a, b, o,
        |  CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
        |  CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
        |  CAST(sum(o) OVER () AS BIGINT) AS n FROM c),
        |q AS (SELECT a, b, n,
        |  CAST(floor((CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |   * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |   / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS termq
        | FROM t),
        |g AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(sum(termq) AS BIGINT) AS chiq,
        |  CAST(count(DISTINCT a) AS BIGINT) AS r, CAST(count(DISTINCT b) AS BIGINT) AS c FROM q)
        |SELECT n, r, c,
        | floor(CAST(chiq AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS chi2,
        | floor(sqrt(CAST(chiq AS DOUBLE) / 1000000000 / (CAST(n AS DOUBLE) * least(r - 1, c - 1))) * 1000000 + 0.5) / 1000000 AS cramers_v
        |FROM g""".stripMargin) { (s, d) =>
      // Cramér's V for order status × priority — the [0,1]-normalized
      // association SCALAR that q_stat_1_chisq deliberately does not
      // emit (its per-cell contributions avoid a float sum; here each
      // cell's χ² term is floor-quantized to a 1e-9 integer first, so
      // the cross-cell total is an order-free BIGINT sum — the q_agg_28
      // device applied to the χ² statistic). Marginals come from window
      // sums over the |r|·|c|-row cell table, so the fact is scanned
      // once. Cells absent from the data contribute 0 in both engines
      // (identical contingency input ⇒ identical output). Scale: one
      // map-side-combinable count agg to ≤15 rows; everything after is
      // constant-size arithmetic.
      val cdf = Tables(s, d, "orders")
        .groupBy(col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))
        .agg(count(lit(1)).as("o"))
      val t = cdf.select(col("a"), col("b"), col("o"),
        sum("o").over(Window.partitionBy("a")).as("ra"),
        sum("o").over(Window.partitionBy("b")).as("cb"),
        sum("o").over(Window.partitionBy()).as("n"))
      val e = col("ra").cast("double") * col("cb").cast("double") / col("n").cast("double")
      val q = t.select(col("a"), col("b"), col("n"),
        floor((col("o").cast("double") - e) * (col("o").cast("double") - e) / e
          * 1000000000L + 0.5).cast("long").as("termq"))
      q.agg(max("n").as("n"), sum("termq").cast("long").as("chiq"),
          countDistinct("a").as("r"), countDistinct("b").as("c"))
        .select(col("n"), col("r"), col("c"),
          round(col("chiq").cast("double") / 1000000000L, 6).as("chi2"),
          round(sqrt(col("chiq").cast("double") / 1000000000L
            / (col("n").cast("double") * least(col("r") - 1, col("c") - 1))), 6).as("cramers_v"))
    },

    Q("q_agg_33_theil",
      """WITH s AS (SELECT o_orderpriority AS prio, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x FROM orders),
        |q AS (SELECT prio, x, CAST(floor(ln(CAST(x AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT) AS lnq FROM s),
        |g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, sum(x * lnq) AS sxl FROM q GROUP BY 1)
        |SELECT prio, n,
        | floor(CAST(sx AS DOUBLE) / n / 100 * 100 + 0.5) / 100 AS mean_value,
        | floor((CAST(sxl AS DOUBLE) / 1000000000.0 / CAST(sx AS DOUBLE) - ln(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS theil_t
        |FROM g ORDER BY prio""".stripMargin) { (s, d) =>
      // Theil T inequality index of order value per priority class —
      // the information-theoretic cousin of q_agg_29's Gini (Theil
      // decomposes additively across subgroups, which Gini can't).
      // T = (1/nμ)·Σ x·ln x − ln μ: the only transcendental is ln x,
      // floor-quantized per row to a 1e-9 integer; x·lnq products
      // (≤ ~1e18 at cents scale) accumulate in DECIMAL(38,0)/HUGEINT so
      // the sufficient statistics are exact, and T is one closed-form
      // IEEE expression per group. Scale: map-side-combinable 3-number
      // agg, no shuffle beyond the 5-key group exchange.
      val sdf = Tables(s, d, "orders").select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("x"))
      val q = sdf.withColumn("lnq",
        floor(log(col("x").cast("double")) * 1000000000L + 0.5).cast("long"))
      val g = q.groupBy("prio").agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum((col("x") * col("lnq")).cast(DecimalType(38, 0))).as("sxl"))
      g.select(col("prio"), col("n"),
          round(col("sx").cast("double") / col("n") / 100, 2).as("mean_value"),
          round(col("sxl").cast("double") / 1000000000.0 / col("sx").cast("double")
            - log(col("sx").cast("double") / col("n").cast("double")), 6).as("theil_t"))
        .orderBy("prio")
    },

    Q("q_time_10_changepoint",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT day, cnt,
        |  CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
        |  CAST(sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s1,
        |  CAST(count(*) OVER () AS BIGINT) AS n,
        |  CAST(sum(cnt) OVER () AS BIGINT) AS s FROM d),
        |g AS (SELECT day, k, s1, n, s,
        |  (s1 * s1 * 1000000) // k + ((s - s1) * (s - s1) * 1000000) // (n - k) - (s * s * 1000000) // n AS gainq
        | FROM r WHERE k < n),
        |b AS (SELECT *, row_number() OVER (ORDER BY gainq DESC, day) AS rn FROM g)
        |SELECT CAST(day AS BIGINT) AS split_day, n AS n_days, k AS n_before,
        | floor(CAST(s1 AS DOUBLE) / k * 100 + 0.5) / 100 AS mean_before,
        | floor(CAST(s - s1 AS DOUBLE) / (n - k) * 100 + 0.5) / 100 AS mean_after,
        | floor(CAST(gainq AS DOUBLE) / 1000000 * 100 + 0.5) / 100 AS gain
        |FROM b WHERE rn = 1""".stripMargin) { (s, d) =>
      // Offline single-changepoint detection on the daily purchase
      // series: the split k maximizing the between-segment sum-of-squares
      // gain S₁²/k + S₂²/(n−k) − S²/n — binary segmentation's first cut
      // (the level-shift complement of q_dq_17's sequential CUSUM). The
      // objective is computed ENTIRELY in scaled integer arithmetic
      // (counts and prefix sums are BIGINTs; ×1e6 then integer division
      // — no IEEE accumulation anywhere), so the argmax is an exact
      // integer compare with a deterministic earliest-day tiebreak.
      // Scale: the corpus collapses to one row per day first; prefix
      // sums and the argmax run on the day table (repartitionByRange at
      // 100 TB). Note the ×1e6 quantum bounds S at ~3e6 days·events —
      // at larger scales drop the quantum, the compare is scale-free.
      val ddf = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val r = ddf.select(col("day"), col("cnt"),
        row_number().over(Window.orderBy("day")).cast("long").as("k"),
        sum("cnt").over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)).as("s1"),
        count(lit(1)).over(Window.partitionBy()).as("n"),
        sum("cnt").over(Window.partitionBy()).as("s"))
      val g = r.filter(col("k") < col("n"))
        .withColumn("gainq",
          expr("(s1 * s1 * 1000000) div k + ((s - s1) * (s - s1) * 1000000) div (n - k) - (s * s * 1000000) div n"))
      g.withColumn("rn", row_number().over(Window.orderBy(col("gainq").desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("day").cast("long").as("split_day"), col("n").as("n_days"),
          col("k").as("n_before"),
          round(col("s1").cast("double") / col("k"), 2).as("mean_before"),
          round((col("s") - col("s1")).cast("double") / (col("n") - col("k")), 2).as("mean_after"),
          round(col("gainq").cast("double") / 1000000L, 2).as("gain"))
    },

    Q("q_sim_19_eff_dim",
      s"""WITH pr AS (SELECT vec_id, label,
         |  (${VectorFunctions.Duck.norm2("embedding")}) * (${VectorFunctions.Duck.norm2("embedding")}) / (${VectorFunctions.Duck.pow4("embedding")}) AS ed
         | FROM embeddings),
         |q AS (SELECT vec_id, label, CAST(floor(ed * 1000000 + 0.5) AS BIGINT) AS eq FROM pr),
         |r AS (SELECT label, vec_id, eq, CAST(row_number() OVER (PARTITION BY label ORDER BY eq, vec_id) AS BIGINT) AS rn,
         |  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS cnt FROM q),
         |g AS (SELECT CAST(label AS BIGINT) AS label, CAST(max(cnt) AS BIGINT) AS n, CAST(sum(eq) AS BIGINT) AS sq,
         | CAST(min(CASE WHEN rn = (cnt + 1) // 2 THEN eq END) AS BIGINT) AS p50q,
         | CAST(min(eq) AS BIGINT) AS minq, CAST(max(eq) AS BIGINT) AS maxq FROM r GROUP BY 1)
         |SELECT label, n,
         | floor(CAST(sq AS DOUBLE) / n + 0.5) / 1000000 AS mean_eff_dim,
         | CAST(p50q AS DOUBLE) / 1000000 AS p50_eff_dim,
         | CAST(minq AS DOUBLE) / 1000000 AS min_eff_dim,
         | CAST(maxq AS DOUBLE) / 1000000 AS max_eff_dim
         |FROM g ORDER BY label""".stripMargin) { (s, d) =>
      // Embedding effective-dimensionality audit per label: the
      // participation ratio (Σx²)²/Σx⁴ — how many dimensions actually
      // carry a vector's mass (64 = perfectly spread, 1 = one-hot). The
      // collapsed-embedding failure mode this catches is invisible to
      // norm checks (these vectors are unit-normalized) and to pairwise
      // metrics until retrieval quality has already cratered. Both
      // moments are fixed left-fold scans of the row's own array
      // (VectorFunctions discipline — bit-identical across engines);
      // the ratio is quantized to a 1e-6 integer per row, so the
      // per-label mean/median/extremes are exact-integer statistics.
      // Scale: pure per-row projection + one label-keyed agg; the
      // median ranks come from Pipelines.groupRankPrefix (r13 —
      // the constant-cardinality label window was a few-task corpus
      // sort; range-partitioned ranks keep every task ~N/P).
      val pr = Tables(s, d, "embeddings").select(col("vec_id"), col("label"),
        (VectorFunctions.norm2(col("embedding")) * VectorFunctions.norm2(col("embedding"))
          / VectorFunctions.pow4(col("embedding"))).as("ed"))
      val q = pr.select(col("vec_id"), col("label"),
        floor(col("ed") * 1000000L + 0.5).cast("long").as("eq"))
      val r = graft.api.Pipelines.groupRankPrefix(q,
        Seq("label"), Seq(col("eq"), col("vec_id")), "rn", "cnt")
      r.groupBy(col("label").cast("long").as("label")).agg(
          max("cnt").as("n"), sum("eq").cast("long").as("sq"),
          min(when(col("rn") === expr("(cnt + 1) div 2"), col("eq"))).as("p50q"),
          min("eq").as("minq"), max("eq").as("maxq"))
        .select(col("label"), col("n"),
          (floor(col("sq").cast("double") / col("n") + 0.5) / 1000000L).as("mean_eff_dim"),
          (col("p50q").cast("double") / 1000000L).as("p50_eff_dim"),
          (col("minq").cast("double") / 1000000L).as("min_eff_dim"),
          (col("maxq").cast("double") / 1000000L).as("max_eff_dim"))
        .orderBy("label")
    },

    Q("q_text_35_heaps",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |s AS (SELECT doc_id, len(tk) AS ntok, len(list_distinct(tk)) AS nuniq FROM t),
        |q AS (SELECT CAST(floor(ln(CAST(ntok AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
        |  CAST(floor(ln(CAST(nuniq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y FROM s WHERE ntok > 0 AND nuniq > 0),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy FROM q)
        |SELECT n AS n_docs,
        | floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS beta,
        | floor(exp((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS k_coef,
        | floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS r2
        |FROM st""".stripMargin) { (s, d) =>
      // Heaps'-law fit: vocabulary-growth exponent β from the log-log
      // OLS of per-doc distinct tokens against total tokens (V = K·nᵝ)
      // — the corpus-level companion to q_text_25's Zipf fit (the two
      // laws are duals) and the planning number for "how big does the
      // tokenizer vocab need to be at 100× the corpus". Per-doc lns are
      // floor-quantized to 1e-6 integers (coarser than the usual 1e-9 so
      // x·y stays inside BIGINT without a decimal widen); the five OLS
      // sufficient statistics are then exact BIGINTs and β/K/r² are the
      // q_stat_5 closed forms. Scale: one corpus scan to two small ints
      // per doc, one map-side-combinable 5-number reduction.
      val tok = Tables(s, d, "documents")
        .select(split(col("text"), " ").as("tk"))
        .select(size(col("tk")).cast("long").as("ntok"),
          size(array_distinct(col("tk"))).cast("long").as("nuniq"))
        .filter(col("ntok") > 0 && col("nuniq") > 0)
      val q = tok.select(
        floor(log(col("ntok").cast("double")) * 1000000L + 0.5).cast("long").as("x"),
        floor(log(col("nuniq").cast("double")) * 1000000L + 0.5).cast("long").as("y"))
      val st = q.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val nD = col("n").cast("double")
      val cov = nD * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
      val varx = nD * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
      val vary = nD * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
      st.select(col("n").as("n_docs"),
        round(cov / varx, 6).as("beta"),
        round(exp((col("sy").cast("double") - cov / varx * col("sx").cast("double")) / nD / 1000000L), 4).as("k_coef"),
        round(cov * cov / (varx * vary), 6).as("r2"))
    },

    Q("q_stream_18_power_users",
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |r AS (SELECT user_id, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rn,
        |  CAST(count(*) OVER () AS BIGINT) AS nu, CAST(sum(cnt) OVER () AS BIGINT) AS tot FROM u),
        |t AS (SELECT * FROM r WHERE rn <= (nu + 99) // 100)
        |SELECT CAST(max(nu) AS BIGINT) AS n_users, CAST(count(*) AS BIGINT) AS n_top,
        | CAST(sum(cnt) AS BIGINT) AS events_top, CAST(max(tot) AS BIGINT) AS events_total,
        | floor(CAST(sum(cnt) AS DOUBLE) / max(tot) * 1000000 + 0.5) / 1000000 AS top_share,
        | CAST(min(cnt) AS BIGINT) AS min_events_top
        |FROM t""".stripMargin) { (s, d) =>
      // Traffic-concentration audit: the top-1% of users (⌈n/100⌉ by
      // event count, deterministic count-then-id order) and their share
      // of all events — the "whale" readout that decides whether
      // per-user salting (q_join_14's machinery) is needed before any
      // user-keyed shuffle, and the behavioral-skew complement of
      // q_dq_15's key-skew profile. All counts exact BIGINTs; the share
      // is one closed-form division. Scale: the corpus collapses to one
      // row per user first; the user table scales with the stream, so
      // the global rank is the range-partitioned exactGlobalRank
      // (which also yields n_users off its histogram pass — no extra
      // count), and the grand total is a 1-row map-side-combinable agg.
      val u = Tables(s, d, "events").groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val (nu, ranked) = graft.api.Pipelines.exactGlobalRank(
        u, Seq(col("cnt").desc, col("user_id")), "rn")
      val tot = u.agg(sum("cnt").cast("long")).first.getLong(0)
      val k = (nu + 99L) / 100L
      ranked.filter(col("rn") <= k)
        .agg(count(lit(1)).as("n_top"), sum("cnt").cast("long").as("events_top"),
          min("cnt").as("min_events_top"))
        .select(lit(nu).as("n_users"), col("n_top"), col("events_top"),
          lit(tot).as("events_total"),
          round(col("events_top").cast("double") / lit(tot.toDouble), 6).as("top_share"),
          col("min_events_top"))
    }
  )
}
