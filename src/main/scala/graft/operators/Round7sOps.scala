package graft.operators

import graft.Q
import graft.functions.Num
import graft.functions.VectorFunctions.Duck
import graft.expressions.VectorExpressions
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bs): LLM-pipeline depth wave —
  * URL canonicalization dedup, √-scaled mixture quotas with
  * largest-remainder rounding, re-aggregatable HLL sketch union, and
  * the IVF nprobe→recall-ceiling sweep.
  *
  * Determinism discipline (§2.12): quotas are pure integer
  * largest-remainder arithmetic over 1e6-quantized √weights (IEEE sqrt
  * is correctly rounded, so the quantized weight is engine-identical);
  * sketch estimates are verdicted per engine inside a 5% band
  * (q_udaf_2 precedent) — the hash compares exact counts + verdicts.
  */
object Round7sOps {

  private def D(c: Column) = c.cast("double")

  val all: Seq[Q] = Seq(

    // Web-corpus URL canonicalization: four deterministic variants of
    // each page URL (host-case, utm tracking param, trailing slash)
    // collapse to ONE canonical form — lowercase host, www. stripped,
    // utm_* dropped, trailing slash trimmed. The first dedup stage of
    // every crawl pipeline; grouped per page so variant counts are
    // visible.
    Q("q_dedup_31_url_canonical",
      """WITH u AS (SELECT doc_id, doc_id % 50 AS pid,
        |  CASE doc_id % 4
        |   WHEN 0 THEN 'https://www.example.com/p/' || CAST(doc_id % 50 AS VARCHAR)
        |   WHEN 1 THEN 'https://WWW.EXAMPLE.COM/p/' || CAST(doc_id % 50 AS VARCHAR)
        |   WHEN 2 THEN 'https://www.example.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_source=feed'
        |   ELSE 'https://www.example.com/p/' || CAST(doc_id % 50 AS VARCHAR) || '/'
        |  END AS url
        | FROM documents),
        |c AS (SELECT pid, url,
        |  'https://' || regexp_replace(lower(split_part(url, '/', 3)), '^www\.', '')
        |   || rtrim(replace(substr(url, 9 + length(split_part(url, '/', 3))), '?utm_source=feed', ''), '/')
        |   AS canon
        | FROM u)
        |SELECT pid, CAST(count(*) AS BIGINT) AS n_urls,
        | CAST(count(DISTINCT url) AS BIGINT) AS n_raw_distinct,
        | CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
        | min(canon) AS canonical_url
        |FROM c GROUP BY pid ORDER BY pid""".stripMargin) { (s, d) =>
      // Canonicalization (Pipelines.canonicalizeUrl) is a pure
      // projection — the only shuffle is the 50-page aggregate.
      val pid = (col("doc_id") % 50).cast("long")
      val base = concat(lit("https://www.example.com/p/"), pid.cast("string"))
      val url = when(col("doc_id") % 4 === 0, base)
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://WWW.EXAMPLE.COM/p/"), pid.cast("string")))
        .when(col("doc_id") % 4 === 2, concat(base, lit("?utm_source=feed")))
        .otherwise(concat(base, lit("/")))
      val u = Tables(s, d, "documents").select(pid.as("pid"), url.as("url"))
      u.select(col("pid"), col("url"), graft.api.Pipelines.canonicalizeUrl(col("url")).as("canon"))
        .groupBy("pid")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_raw_distinct"),
          countDistinct(col("canon")).as("n_canonical"),
          min(col("canon")).as("canonical_url"))
        .orderBy("pid")
    },

    // √-scaled mixture quotas with largest-remainder rounding: the
    // standard LLM data-mixing rule (sample ∝ √size flattens the
    // long tail) allocated to an EXACT total of 100 docs. Weights are
    // 1e6-quantized √counts; floor quotas plus the largest integer
    // remainders make Σquota = 100 — pure integer arithmetic after the
    // one correctly-rounded sqrt.
    Q("q_pipe_12_sqrt_quota",
      """WITH l AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |w AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w6 FROM l),
        |t AS (SELECT lang, n, w6,
        |  CAST(sum(w6) OVER () AS BIGINT) AS tw,
        |  100 * w6 // CAST(sum(w6) OVER () AS BIGINT) AS q0,
        |  100 * w6 % CAST(sum(w6) OVER () AS BIGINT) AS rem
        | FROM w),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |  CAST(100 - sum(q0) OVER () AS BIGINT) AS leftover
        | FROM t)
        |SELECT lang, n AS n_docs, w6 AS weight6,
        | CAST(q0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r ORDER BY lang""".stripMargin) { (s, d) =>
      graft.api.Pipelines.sqrtQuota(Tables(s, d, "documents"), "lang")
        .orderBy("lang")
    },

    // Re-aggregatable distinct sketches — the 100 TB dashboard
    // primitive: per-priority HLL sketches built once, then UNIONED to
    // the global estimate instead of rescanning. Sketch values differ
    // across engines, so each engine verdicts its own estimate inside
    // the 5% band (q_udaf_2's pattern); the hash compares exact counts
    // and verdicts. The 'ALL' row is the union-vs-global-exact check.
    Q("q_agg_46_sketch_union",
      """WITH p AS (SELECT o_orderpriority AS pr,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
        |  CAST(CASE WHEN abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
        |    <= count(DISTINCT o_custkey) * 0.05 THEN 1 ELSE 0 END AS BIGINT) AS approx_ok
        | FROM orders GROUP BY 1),
        |g AS (SELECT 'ALL' AS pr,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
        |  CAST(CASE WHEN abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
        |    <= count(DISTINCT o_custkey) * 0.05 THEN 1 ELSE 0 END AS BIGINT) AS approx_ok
        | FROM orders)
        |SELECT pr, exact_cust, approx_ok FROM p
        |UNION ALL SELECT pr, exact_cust, approx_ok FROM g
        |ORDER BY pr""".stripMargin) { (s, d) =>
      // Spark side genuinely re-aggregates: per-priority
      // hll_sketch_agg buffers are MERGED by hll_union_agg — the
      // global estimate never rescans orders.
      val o = Tables(s, d, "orders")
      val per = o.groupBy(col("o_orderpriority").as("pr"))
        .agg(countDistinct(col("o_custkey")).as("exact_cust"),
          expr("hll_sketch_agg(o_custkey)").as("sk"))
      val perOut = per.select(col("pr"), col("exact_cust"),
        (abs(expr("hll_sketch_estimate(sk)") - col("exact_cust"))
          <= D(col("exact_cust")) * 0.05).cast("long").as("approx_ok"))
      val globalExact = o.agg(countDistinct(col("o_custkey")).as("exact_cust"))
      val unioned = per.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val allRow = globalExact.crossJoin(unioned)
        .select(lit("ALL").as("pr"), col("exact_cust"),
          (abs(col("est") - col("exact_cust")) <= D(col("exact_cust")) * 0.05)
            .cast("long").as("approx_ok"))
      perOut.unionByName(allRow).orderBy("pr")
    },

    // IVF nprobe sweep: with 8 fixed coarse cells (q_sim_4's
    // quantizer), how many of the probe's TRUE top-5 neighbors are even
    // reachable at nprobe ∈ {1,2,4,8}? The recall CEILING curve — the
    // table that picks nprobe for a latency budget. Truth = exact
    // brute-force top-5 (self excluded).
    Q("q_sim_44_nprobe_sweep",
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |assign AS (SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id ORDER BY ${Duck.sqDist("e.embedding", "c.cvec")}, c.cid) AS rn
         |  FROM embeddings e, cents c) WHERE rn = 1),
         |probe AS (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0),
         |crank AS (SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rc FROM (
         |  SELECT c.cid, ${Duck.sqDist("p.pvec", "c.cvec")} AS d2 FROM cents c, probe p)),
         |truth AS (SELECT vec_id FROM (
         |  SELECT e.vec_id, row_number() OVER (ORDER BY ${Duck.cosine("e.embedding", "p.pvec")} DESC, e.vec_id) AS rn
         |  FROM embeddings e, probe p WHERE e.vec_id <> 0) WHERE rn <= 5),
         |pts AS (SELECT a.vec_id, cr.rc,
         |  CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_true
         | FROM assign a JOIN crank cr ON a.cid = cr.cid
         | LEFT JOIN truth t ON a.vec_id = t.vec_id
         | WHERE a.vec_id <> 0),
         |np AS (SELECT unnest(ARRAY[1, 2, 4, 8]) AS nprobe)
         |SELECT CAST(nprobe AS BIGINT) AS nprobe,
         | CAST(sum(CASE WHEN rc <= nprobe THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         | CAST(sum(CASE WHEN rc <= nprobe THEN is_true ELSE 0 END) AS BIGINT) AS n_reachable,
         | floor(CAST(sum(CASE WHEN rc <= nprobe THEN is_true ELSE 0 END) AS DOUBLE) / 5 * 1000000 + 0.5) / 1000000 AS recall_ceiling
         |FROM pts, np GROUP BY nprobe ORDER BY nprobe""".stripMargin) { (s, d) =>
      // Same zero-shuffle shape as q_sim_4: packed broadcast centroids,
      // native argmin_sqdist assignment, broadcast 8-row cell ranks and
      // 5-row truth set; the sweep is a 4-literal fan-out folded in the
      // same aggregate.
      VectorExpressions.register(s)
      val e = Tables(s, d, "embeddings")
      val packed = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cs"))
        .select(transform(col("cs"), _.getField("cid")).as("cids"),
          transform(col("cs"), _.getField("cvec")).as("cvecs"))
      val withCell = e.crossJoin(broadcast(packed))
        .withColumn("cid", element_at(col("cids"), expr("argmin_sqdist(embedding, cvecs)") + 1))
        .select(col("vec_id"), col("embedding"), col("cid"))
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pvec"))
      // probe → cell distance ranks (8 rows, broadcast)
      val crank = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .crossJoin(broadcast(probe))
        .select(col("cid"),
          aggregate(zip_with(col("cvec"), col("pvec"),
            (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
            lit(0.0), (acc, v) => acc + v).as("d2"))
        .select(col("cid"),
          row_number().over(Window.orderBy(col("d2"), col("cid"))).as("rc"))
      val truth = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), expr("cosine_similarity(embedding, pvec)").as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(5)
        .select(col("vec_id").as("tid"))
      val pts = withCell.filter(col("vec_id") =!= 0)
        .join(broadcast(crank), Seq("cid"))
        .join(broadcast(truth), col("vec_id") === col("tid"), "left")
        .select(col("vec_id"), col("rc"),
          when(col("tid").isNotNull, 1L).otherwise(0L).as("is_true"))
      val np = s.range(0, 4).select(expr("shiftleft(1, cast(id as int))").as("nprobe"))
      pts.crossJoin(broadcast(np))
        .groupBy("nprobe")
        .agg(sum(when(col("rc") <= col("nprobe"), 1L).otherwise(0L)).as("n_candidates"),
          sum(when(col("rc") <= col("nprobe"), col("is_true")).otherwise(0L)).as("n_reachable"))
        .select(col("nprobe").cast("long").as("nprobe"), col("n_candidates"),
          col("n_reachable"),
          Num.round(D(col("n_reachable")) / 5, 6).as("recall_ceiling"))
        .orderBy("nprobe")
    }
  )
}
