package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 additions (SURVEY §2.11bz): the round's machinery exposed as
  * first-class oracle-checked capability — the RDD frontier BFS as a
  * hop-distance profile, the band join as an operational band-tuning
  * audit, and the dedup family as a token-budget savings report. Each
  * oracle uses a different computational shape than the engine
  * (recursive CTE, lateral month unnest, scalar dup-join), so agreement
  * checks the machinery, not a mirrored formula.
  */
object Round9Ops {

  val all: Seq[Q] = Seq(

    // Hop-distance profile of the sampled handoff graph from the
    // min-id root: nodes per BFS level plus level share and cumulative
    // share — the reachability/ball-growth readout that sizes frontier
    // memory for any multi-hop traversal (and the histogram view of
    // q_graph_6's per-node distances). Spark side is the r9
    // co-partitioned RDD bfsDistances (one shuffle per hop); the
    // histogram's total and running windows run over <=
    // eccentricity+1 rows in one single-partition exchange (waived in
    // the plan lint with that bound). Oracle: bounded recursive CTE, min
    // hop per node, then a plain GROUP BY — a different fixpoint form.
    Q("q_graph_26_hop_profile",
      """WITH RECURSIVE e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 200 = 0),
        |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |nodes AS (SELECT DISTINCT src AS node FROM bidir),
        |s AS (SELECT min(node) AS root FROM nodes),
        |walk(node, d) AS (
        |  SELECT root, 0 FROM s
        |  UNION
        |  SELECT b.dst, w.d + 1 FROM walk w JOIN bidir b ON b.src = w.node WHERE w.d < 40),
        |md AS (SELECT node, min(d) AS dist FROM walk GROUP BY 1),
        |h AS (SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes FROM md GROUP BY 1),
        |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS tot FROM h)
        |SELECT CAST(dist AS BIGINT) AS dist, n_nodes,
        | floor(CAST(n_nodes AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS share,
        | floor(CAST(sum(n_nodes) OVER (ORDER BY dist) AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS cum_share
        |FROM h, t ORDER BY dist""".stripMargin) { (s, d) =>
      val edges = graft.sources.SampledEdges.handoff(s, d, 200)
      val h = graft.api.Pipelines.bfsDistances(edges, "src", "dst", "node", maxIters = 40)
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
      h.withColumn("tot", sum("n_nodes").over(Window.partitionBy()))
        .withColumn("cum", sum("n_nodes").over(
          Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("dist"), col("n_nodes"),
          Num.round(col("n_nodes").cast("double") / col("tot"), 6).as("share"),
          Num.round(col("cum").cast("double") / col("tot"), 6).as("cum_share"))
        .orderBy("dist")
    },

    // Band-tuning audit for the q_join_8 band-join family: per month
    // band, candidate pairs, surviving pairs, and the survival rate —
    // the operational readout that decides whether the band width is
    // right (low survival = the equi-band prefilter is too coarse and
    // the residual BETWEEN does the real work; ~1.0 = bands ≈ exact).
    // The lineitem side spans a month boundary (2 bands) and samples
    // 1-in-3 orders to keep the candidate set bench-sized; at 100 TB
    // the same audit runs on a time slice. Oracle: lateral month
    // unnest (generate_series) instead of explode(sequence).
    Q("q_join_26_band_tuning",
      """WITH li AS (SELECT l_shipdate FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-05-25' AND l_shipdate < TIMESTAMP '1996-06-08'
        |   AND l_orderkey % 3 = 0),
        |o AS (SELECT o_orderdate, o_orderdate + INTERVAL 90 DAY AS valid_until FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-03-01' AND o_orderdate <= TIMESTAMP '1996-06-08'),
        |ob AS (SELECT o.o_orderdate, o.valid_until, t.band
        |  FROM o CROSS JOIN unnest(generate_series(date_trunc('month', o.o_orderdate),
        |    date_trunc('month', o.valid_until), INTERVAL 1 MONTH)) AS t(band)),
        |c AS (SELECT date_trunc('month', li.l_shipdate) AS band, li.l_shipdate,
        |        ob.o_orderdate, ob.valid_until
        |  FROM li JOIN ob ON date_trunc('month', li.l_shipdate) = ob.band)
        |SELECT CAST(band AS DATE) AS band, CAST(count(*) AS BIGINT) AS n_candidates,
        | CAST(sum(CASE WHEN l_shipdate BETWEEN o_orderdate AND valid_until THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        | floor(CAST(sum(CASE WHEN l_shipdate BETWEEN o_orderdate AND valid_until THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS survival
        |FROM c GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
      val li = Tables(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-05-25").cast("timestamp")
          && col("l_shipdate") < lit("1996-06-08").cast("timestamp")
          && col("l_orderkey") % 3 === 0)
        .select(col("l_shipdate"), date_trunc("month", col("l_shipdate")).as("band"))
      val o = Tables(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp")
          && col("o_orderdate") <= lit("1996-06-08").cast("timestamp"))
        .withColumn("valid_until", col("o_orderdate") + expr("INTERVAL 90 DAY"))
        .withColumn("band", explode(sequence(
          date_trunc("month", col("o_orderdate")),
          date_trunc("month", col("valid_until")),
          expr("INTERVAL 1 MONTH"))))
        .select("band", "o_orderdate", "valid_until")
      val surv = when(col("l_shipdate").between(col("o_orderdate"), col("valid_until")), 1L)
        .otherwise(0L)
      li.join(o, Seq("band"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_candidates"),
          sum(surv).cast("long").as("n_pairs"),
          Num.round(sum(surv).cast("double") / count(lit(1)), 6).as("survival"))
        .orderBy("band")
    },

    // Token-budget savings from exact dedup, per language: docs and
    // whitespace tokens before/after keeping one copy per normalized
    // text (min doc_id wins, the q_dedup_1 rule) — the report a
    // training-data pipeline reads to price its dedup pass ("how many
    // tokens does dedup buy back, and in which languages"). Two uses
    // of the keyed table (the rows + the min-doc_id winners) — the
    // pairwise diamond AQE stage reuse dedups (r9 measurement).
    // Oracle: the same winner rule via a scalar min() join.
    Q("q_pipe_13_dedup_savings",
      """WITH t AS (SELECT doc_id, lang, md5(lower(trim(text))) AS k,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |keep AS (SELECT k, min(doc_id) AS kd FROM t GROUP BY 1),
        |j AS (SELECT t.lang, t.toks,
        |    CASE WHEN t.doc_id = keep.kd THEN 1 ELSE 0 END AS kept
        |  FROM t JOIN keep ON t.k = keep.k)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS n_tokens,
        | CAST(sum(kept) AS BIGINT) AS n_docs_kept,
        | CAST(sum(kept * toks) AS BIGINT) AS n_tokens_kept,
        | floor((1 - CAST(sum(kept * toks) AS DOUBLE) / sum(toks)) * 1000000 + 0.5) / 1000000 AS token_savings
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val t = Tables(s, d, "documents").select(col("doc_id"), col("lang"),
        md5(lower(trim(col("text")))).as("k"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val keep = t.groupBy("k").agg(min("doc_id").as("kd"))
      val j = t.join(keep, "k")
        .select(col("lang"), col("toks"),
          when(col("doc_id") === col("kd"), 1L).otherwise(0L).as("kept"))
      j.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("toks").cast("long").as("n_tokens"),
          sum("kept").cast("long").as("n_docs_kept"),
          sum(col("kept") * col("toks")).cast("long").as("n_tokens_kept"),
          Num.round(lit(1.0) - sum(col("kept") * col("toks")).cast("double")
            / sum("toks"), 6).as("token_savings"))
        .orderBy("lang")
    }
  )
}
