package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 continuation (SURVEY §2.11v): quantified subqueries,
  * canonicalization-policy auditing, dedup-policy set comparison,
  * per-stream volume trends, feature screening, overflow-safe
  * arithmetic, and semi-structured field statistics.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * products that can outgrow int64 ride DECIMAL(38,0)/HUGEINT; one
  * fixed-shape IEEE expression per emitted float, mirrored verbatim in
  * DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5mOps {

  val all: Seq[Q] = Seq(

    Q("q_sub_4_quantified",
      """WITH avgp AS (SELECT o_orderpriority, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1),
        |mx AS (SELECT max(CAST(s AS DOUBLE) / n) AS mxavg, min(CAST(s AS DOUBLE) / n) AS mnavg FROM avgp)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CASE WHEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > mx.mxavg THEN 1 ELSE 0 END) AS BIGINT) AS above_all,
        | CAST(sum(CASE WHEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > mx.mnavg THEN 1 ELSE 0 END) AS BIGINT) AS above_any
        |FROM orders, mx""".stripMargin) { (s, d) =>
      // Quantified-comparison subqueries: orders priced above ALL
      // priority-class averages vs above ANY — the `> ALL (...)` /
      // `> ANY (...)` operator surface, planned the scalable way: both
      // quantifiers reduce to comparing against the extreme of the
      // 5-row aggregate (x > ALL S ⟺ x > max S; x > ANY S ⟺ x >
      // min S), so the subquery becomes one broadcast 1-row extreme —
      // never a per-row subquery execution. Class averages compare as
      // one IEEE division off exact cents sums. Scale: one fact scan +
      // a broadcast scalar.
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      val avgp = Tables(s, d, "orders").groupBy("o_orderpriority")
        .agg(sum(cents).as("s"), count(lit(1)).as("n"))
      val mx = avgp.agg(max(col("s").cast("double") / col("n")).as("mxavg"),
        min(col("s").cast("double") / col("n")).as("mnavg"))
      Tables(s, d, "orders").crossJoin(broadcast(mx))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(cents > col("mxavg"), 1).otherwise(0)).cast("long").as("above_all"),
          sum(when(cents > col("mnavg"), 1).otherwise(0)).cast("long").as("above_any"))
    },

    Q("q_dedup_18_canonical_pick",
      """WITH t AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents),
        |g AS (SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS nk,
        |  doc_id, ntok FROM t),
        |cl AS (SELECT nk, CAST(count(*) AS BIGINT) AS sz,
        |  CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS best_id
        | FROM (SELECT nk, doc_id, ntok, row_number() OVER (PARTITION BY nk ORDER BY ntok DESC, doc_id) AS rn FROM g)
        | GROUP BY nk)
        |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
        | CAST(sum(CASE WHEN sz > 1 AND best_id <> min_id THEN 1 ELSE 0 END) AS BIGINT) AS n_policy_differs,
        | floor(CAST(sum(CASE WHEN sz > 1 AND best_id <> min_id THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END), 0) * 1000000 + 0.5) / 1000000 AS differ_share
        |FROM cl""".stripMargin) { (s, d) =>
      // Canonicalization-policy audit: within each near-dup cluster,
      // does the house min-doc_id survivor rule pick the same document
      // as a quality rule (longest doc wins)? On this fixture the two
      // policies disagree on 43% of multi-doc clusters — deduping by
      // arrival order is silently keeping SHORTER variants, the policy
      // blind spot behind q_dedup_17's aggregate bias numbers (that
      // query shows dedup reshapes the corpus; this counts exactly
      // where a better policy would differ). Both picks come from one
      // window pass per digest group; all counts exact. Scale: one
      // digest-keyed window + agg; text never shuffles.
      val t = Tables(s, d, "documents").select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      val g = t.select(
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))).as("nk"),
        col("doc_id"), col("ntok"))
      val ranked = g.withColumn("rn",
        row_number().over(Window.partitionBy("nk").orderBy(col("ntok").desc, col("doc_id"))))
      val cl = ranked.groupBy("nk").agg(count(lit(1)).as("sz"),
        min("doc_id").as("min_id"),
        min(when(col("rn") === 1, col("doc_id"))).as("best_id"))
      cl.agg(count(lit(1)).as("n_clusters"),
        sum(when(col("sz") > 1, 1).otherwise(0)).cast("long").as("n_multi"),
        sum(when(col("sz") > 1 && col("best_id") =!= col("min_id"), 1).otherwise(0))
          .cast("long").as("n_policy_differs"),
        round(sum(when(col("sz") > 1 && col("best_id") =!= col("min_id"), 1).otherwise(0))
          .cast("double")
          / nullif(sum(when(col("sz") > 1, 1).otherwise(0)), lit(0)), 6).as("differ_share"))
    },

    Q("q_set_6_policy_diff",
      """WITH t AS (SELECT doc_id, text FROM documents),
        |ex AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY md5(lower(trim(text)))),
        |nr AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))),
        |u AS (SELECT COALESCE(ex.doc_id, nr.doc_id) AS doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
        |  CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_near
        | FROM ex FULL OUTER JOIN nr ON ex.doc_id = nr.doc_id)
        |SELECT CAST(sum(CASE WHEN in_exact = 1 AND in_near = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_exact,
        | CAST(sum(CASE WHEN in_exact = 0 AND in_near = 1 THEN 1 ELSE 0 END) AS BIGINT) AS only_near,
        | CAST(sum(CASE WHEN in_exact = 1 AND in_near = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_policies,
        | CAST(sum(CASE WHEN in_exact + in_near = 1 THEN 1 ELSE 0 END) AS BIGINT) AS symmetric_diff
        |FROM u""".stripMargin) { (s, d) =>
      // Dedup-policy set comparison: the survivor sets of exact dedup
      // vs token-set near dedup, decomposed into only-exact / only-near
      // / both and the symmetric difference — the full-outer-join
      // set-algebra readout that says exactly WHICH documents the
      // policy choice affects (q_pipe_2 counts stage survivors; this
      // compares the policies' survivor identities — a doc surviving
      // near but not exact dedup means its exact-twin had a lower id
      // while its token-set representative was itself). Both sides are
      // min-id-per-digest tables; the comparison is one id-keyed full
      // outer join. Scale: digest aggs then an id-keyed join of two
      // survivor tables.
      val t = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        .localCheckpoint()
      val ex = t.groupBy(md5(lower(trim(col("text"))))).agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), lit(1).as("in_exact"))
      val nr = t.groupBy(
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))))
        .agg(min("doc_id").as("doc_id"))
        .select(col("doc_id"), lit(1).as("in_near"))
      ex.join(nr, Seq("doc_id"), "full_outer")
        .select(coalesce(col("in_exact"), lit(0)).as("ie"),
          coalesce(col("in_near"), lit(0)).as("im"))
        .agg(sum(when(col("ie") === 1 && col("im") === 0, 1).otherwise(0)).cast("long").as("only_exact"),
          sum(when(col("ie") === 0 && col("im") === 1, 1).otherwise(0)).cast("long").as("only_near"),
          sum(when(col("ie") === 1 && col("im") === 1, 1).otherwise(0)).cast("long").as("both_policies"),
          sum(when(col("ie") + col("im") === 1, 1).otherwise(0)).cast("long").as("symmetric_diff"))
    },

    Q("q_stream_26_volume_trend",
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, y, CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS BIGINT) AS x FROM d),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx FROM s GROUP BY 1)
        |SELECT event_type, n AS n_days,
        | floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * 10000 + 0.5) / 10000 AS events_per_day_trend,
        | CAST(CASE WHEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) < 0 THEN 1 ELSE 0 END AS BIGINT) AS declining
        |FROM st ORDER BY event_type""".stripMargin) { (s, d) =>
      // Per-stream volume trend: OLS slope of each event type's daily
      // count on the day index, with a declining flag — the slow-drift
      // direction per producer that q_dq_26's week-over-week deltas
      // chop into noisy steps and q_dq_25's staleness only sees at
      // zero (a stream fading 2%/day trips NOTHING else until it's
      // gone). q_stat_5's exact-sufficient-statistic OLS core per
      // group; the declining flag tests the covariance sign in DOUBLE
      // identically both engines. Scale: (type, day) map-side agg then
      // a per-type 5-number reduction.
      graft.streaming.Streams.volumeTrendFinish(Tables(s, d, "events")
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("y")))
    },

    Q("q_ml_7_dim_screening",
      """WITH x AS (SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE 0 END AS grp, g AS dim,
        |  CAST(floor(CAST(embedding[g + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        | FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS u(g)),
        |st AS (SELECT dim,
        |  CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN grp = 1 THEN q ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, CAST(sum(CASE WHEN grp = 0 THEN q ELSE 0 END) AS BIGINT) AS s0,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s, sum(CAST(q AS HUGEINT) * q) AS ss
        | FROM x GROUP BY 1),
        |r AS (SELECT dim, n1, n0,
        |  (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |   * sqrt(CAST(n1 AS DOUBLE) * n0 / (CAST(n AS DOUBLE) * n))
        |   / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n) AS rpb FROM st),
        |rk AS (SELECT dim, rpb, row_number() OVER (ORDER BY abs(rpb) DESC, dim) AS rnk FROM r)
        |SELECT CAST(rnk AS BIGINT) AS rnk, CAST(dim AS BIGINT) AS dim,
        | floor(rpb * 1000000 + 0.5) / 1000000 AS point_biserial
        |FROM rk WHERE rnk <= 10 ORDER BY rnk""".stripMargin) { (s, d) =>
      // Feature screening: the 10 embedding dimensions most correlated
      // (point-biserial) with membership in label 0 — the univariate
      // filter that runs before any probe/classifier training (is the
      // label signal concentrated in a few dims, and which; feeds
      // dimension pruning and per-dim diagnostics like q_sim_14's
      // z-scores). Per-(dim, group) sums of 1e-6-quantized components
      // are exact BIGINTs (squares in HUGEINT/DECIMAL); each dim's rpb
      // is one IEEE closed form and the rank is a deterministic argsort
      // with a dim tiebreak. Scale: posexplode projection, (dim)-keyed
      // agg of dims×groups rows, ranking over 64 rows.
      val x = Tables(s, d, "embeddings")
        .select(when(col("label") === 0, 1).otherwise(0).as("grp"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("grp"), col("dim"),
          floor(col("v").cast("double") * 1000000L + 0.5).cast("long").as("q"))
      val st = x.groupBy("dim").agg(
        sum(when(col("grp") === 1, 1).otherwise(0)).cast("long").as("n1"),
        sum(when(col("grp") === 1, col("q")).otherwise(0L)).as("s1"),
        sum(when(col("grp") === 0, 1).otherwise(0)).cast("long").as("n0"),
        sum(when(col("grp") === 0, col("q")).otherwise(0L)).as("s0"),
        count(lit(1)).as("n"), sum("q").as("s"),
        sum(col("q").cast(DecimalType(38, 0)) * col("q")).as("ss"))
      val rpb = (col("s1").cast("double") / col("n1") - col("s0").cast("double") / col("n0")) *
        sqrt(col("n1").cast("double") * col("n0") / (col("n").cast("double") * col("n"))) /
        sqrt((col("ss").cast("double") - col("s").cast("double") * col("s") / col("n")) / col("n"))
      st.select(col("dim"), rpb.as("rpb"))
        .withColumn("rnk", row_number().over(Window.orderBy(abs(col("rpb")).desc, col("dim"))).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("rnk"), col("dim").cast("long").as("dim"),
          round(col("rpb"), 6).as("point_biserial"))
        .orderBy("rnk")
    },

    Q("q_proj_8_try_arith",
      """WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |big AS (SELECT cents, cents * 1000000007 AS scaled FROM e),
        |t AS (SELECT cents, scaled,
        |  CASE WHEN abs(scaled) > 9223372036854775807 // 1000000007 THEN NULL ELSE scaled * 1000000007 END AS twice
        | FROM big)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN twice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_would_overflow,
        | CAST(max(CASE WHEN twice IS NOT NULL THEN twice END) AS BIGINT) AS max_safe
        |FROM t""".stripMargin) { (s, d) =>
      // Overflow-safe arithmetic surface: `try_multiply` turns int64
      // overflow into NULL instead of an ANSI runtime error — the
      // safe-math operator a pipeline uses for untrusted magnitudes
      // (one poison row otherwise kills the whole stage under ANSI
      // mode, which this engine runs with). Each cents value is scaled
      // by 1e9+7 twice; the second step overflows for any cents > 9.
      // The oracle mirrors try-semantics with an EXACT integer
      // pre-check (|x| > int64max ÷ multiplier ⇒ NULL) — the same
      // decision Spark's checked multiply makes. Scale: pure
      // projection + 3-number agg.
      val e = Tables(s, d, "events")
        .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val t = e.select(col("cents"),
        expr("try_multiply(try_multiply(cents, 1000000007L), 1000000007L)").as("twice"))
      t.agg(count(lit(1)).as("n"),
        sum(when(col("twice").isNull, 1).otherwise(0)).cast("long").as("n_would_overflow"),
        max(when(col("twice").isNotNull, col("twice"))).as("max_safe"))
    },

    Q("q_json_5_props_stats",
      """WITH p AS (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
        | floor(CAST(sum(k) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS mean_k
        |FROM p GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      // Typed numeric aggregation OVER a JSON field: extract props.k as
      // an integer and aggregate per event type — the "JSON column used
      // as a real metric" pattern completing the json family (q_json_1
      // extracts, q_json_2 infers schema; this closes the loop to
      // typed BIGINT statistics, proving the string→int path is exact
      // on both engines). All sums exact integers; one IEEE mean.
      // Scale: per-row extraction (codegen'd get_json_object), map-side
      // agg to |types| rows.
      val p = Tables(s, d, "events").select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      p.groupBy("event_type").agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          round(sum("k").cast("double") / count(lit(1)), 4).as("mean_k"))
        .orderBy("event_type")
    }
  )
}
