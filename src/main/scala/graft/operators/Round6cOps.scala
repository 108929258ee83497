package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-6 continuation (SURVEY §2.11as): behavioral paths, churn
  * horizons, k-truss peeling, intra-order consistency, and the
  * label-centroid separation matrix.
  *
  * Determinism discipline (§2.12): paths and peels are exact
  * string/integer set algebra; centroid components quantize 1e8 before
  * any arithmetic; every ratio quantizes at emission.
  */
object Round6cOps {

  /** (round, n_edges, n_nodes) of each canonical (u < v) edge list in
    * `rounds`, rounds numbered from 1, in one aggregate over their
    * round-tagged union: each edge contributes its two endpoints, so
    * n_edges is rows / 2 and n_nodes the distinct endpoints. One null
    * marker row per round keeps a round with no edges as a zero row.
    */
  private[graft] def trussCounts(rounds: Seq[DataFrame]): DataFrame = {
    val tagged = rounds.zipWithIndex.map { case (c, i) =>
      c.select(lit(i + 1L).as("round"), explode(array(col("u"), col("v"))).as("node"))
    }
    val markers = rounds.head.sparkSession.range(1, rounds.size + 1, 1, 1)
      .select(col("id").as("round"), lit(null).cast("long").as("node"))
    (tagged :+ markers).reduce(_ union _)
      .groupBy("round")
      .agg(expr("count(node) div 2").as("n_edges"), countDistinct("node").as("n_nodes"))
  }

  val all: Seq[Q] = Seq(

    // Top event-type trigram paths: the most common 3-step behavioral
    // sequences across all users — the funnel DISCOVERY query
    // (q_stream_6 checks one declared funnel; this surfaces which
    // funnels exist, ranked).
    Q("q_stream_34_path_trigrams",
      """WITH s AS (SELECT user_id, event_type,
        |  lead(event_type, 1) OVER w AS e2,
        |  lead(event_type, 2) OVER w AS e3
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path,
        | CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin) { (s, d) =>
      graft.api.Pipelines.pathNgrams(Tables(s, d, "events"), "user_id", "ts", "event_type", "event_id")
    },

    // Churn-definition sensitivity: how many users count as "churned"
    // at 3/7/14-day inactivity horizons (measured against the
    // corpus's last observed day) — the one-row table that decides
    // which churn SLA a team can actually commit to.
    Q("q_stream_35_churn_horizons",
      """WITH u AS (SELECT user_id, max(epoch_us(ts) // 86400000000) AS last_day
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(last_day) AS maxd FROM u)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(CASE WHEN last_day <= maxd - 3 THEN 1 ELSE 0 END) AS BIGINT) AS churn_3d,
        | CAST(sum(CASE WHEN last_day <= maxd - 7 THEN 1 ELSE 0 END) AS BIGINT) AS churn_7d,
        | CAST(sum(CASE WHEN last_day <= maxd - 14 THEN 1 ELSE 0 END) AS BIGINT) AS churn_14d,
        | floor(CAST(sum(CASE WHEN last_day <= maxd - 7 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS churn_7d_rate
        |FROM u, mx""".stripMargin) { (s, d) =>
      graft.api.Pipelines.churnHorizons(Tables(s, d, "events"), "user_id",
        expr("unix_micros(ts) div 86400000000"))
    },

    // k-truss peel trajectory: drop edges supported by < 2 triangles,
    // twice, recomputing support between rounds — the EDGE-grained
    // cohesion audit (q_graph_12's k-core peels NODES by degree; a
    // high-degree node can still sit on zero triangles, and the truss
    // sees it). Runs on the sampled handoff graph (the q_graph_12/15
    // fixture slice).
    Q("q_graph_16_ktruss",
      """WITH e0 AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 100 = 0),
        |b0 AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |c0 AS (SELECT src AS u, dst AS v FROM b0 WHERE src < dst),
        |s1 AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup FROM c0 e
        |  JOIN b0 x ON x.src = e.u JOIN b0 y ON y.src = e.v AND y.dst = x.dst
        |  GROUP BY e.u, e.v),
        |c1 AS (SELECT u, v FROM s1 WHERE sup >= 2),
        |b1 AS (SELECT u AS src, v AS dst FROM c1 UNION SELECT v, u FROM c1),
        |s2 AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup FROM c1 e
        |  JOIN b1 x ON x.src = e.u JOIN b1 y ON y.src = e.v AND y.dst = x.dst
        |  GROUP BY e.u, e.v),
        |c2 AS (SELECT u, v FROM s2 WHERE sup >= 2)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS round,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c0) AS n_edges,
        |  (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM b0) AS n_nodes
        | UNION ALL SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM c1),
        |  (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM b1)
        | UNION ALL SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM c2),
        |  (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM
        |    (SELECT u FROM c2 UNION SELECT v FROM c2)))
        |ORDER BY round""".stripMargin) { (s, d) =>
      // Support = the common-neighbour count of each canonical (u<v)
      // edge (Pipelines.kTrussPeel); each peel round is support-filter
      // → re-derive the symmetrized adjacency. The rounds stay lazy:
      // the one action plans c1 once per reader and AQE reuses the
      // repeated exchanges, so a checkpoint per round would only add
      // eager jobs. All counts are exact integer set sizes.
      // r14: the session-cached bidirected mod-100 list (identical
      // derivation, materialized once across the nine sharing queries)
      val b0 = graft.sources.SampledEdges.bidir(s, d, 100)
      val c0 = b0.filter(col("src") < col("dst")).select(col("src").as("u"), col("dst").as("v"))
      val c1 = graft.api.Pipelines.kTrussPeel(c0, b0, 4)
      val b1 = c1.select(col("u").as("src"), col("v").as("dst"))
        .union(c1.select(col("v").as("src"), col("u").as("dst")))
      val c2 = graft.api.Pipelines.kTrussPeel(c1, b1, 4)
      trussCounts(Seq(c0, c1, c2)).orderBy("round")
    },

    // Intra-order line-number consistency: dup/gap profile of
    // l_linenumber within each order — the grain check every
    // fact-table contract needs (q_dq_2 checks keys ACROSS tables;
    // this checks the sequence WITHIN the composite key, and the
    // fixtures genuinely contain duplicate line numbers).
    Q("q_dq_33_order_lines",
      """WITH o AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(max(l_linenumber) AS BIGINT) AS max_ln,
        |  CAST(count(DISTINCT l_linenumber) AS BIGINT) AS n_distinct
        | FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CASE WHEN n_distinct < n_lines THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_orders,
        | CAST(sum(CASE WHEN max_ln > n_distinct THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_orders,
        | CAST(max(n_lines) AS BIGINT) AS max_lines,
        | floor(CAST(sum(CASE WHEN n_distinct < n_lines THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS dup_order_ratio
        |FROM o""".stripMargin) { (s, d) =>
      // dup: distinct < count; gap: max > distinct (a 1..n contiguous
      // numbering has max == distinct). One per-order aggregate + one
      // summary row, all exact integers.
      Tables(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          max("l_linenumber").cast("long").as("max_ln"),
          countDistinct("l_linenumber").as("n_distinct"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("n_distinct") < col("n_lines"), 1L).otherwise(0L)).as("n_dup_orders"),
          sum(when(col("max_ln") > col("n_distinct"), 1L).otherwise(0L)).as("n_gap_orders"),
          max("n_lines").as("max_lines"),
          Num.round(sum(when(col("n_distinct") < col("n_lines"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("dup_order_ratio"))
    },

    // Label-centroid separation matrix: pairwise cosine between every
    // pair of label centroids — the inter-class geometry table
    // (q_sim_18 compares each label to the GLOBAL centroid; this is
    // the full label×label off-diagonal, the confusion-risk map of an
    // embedding space).
    Q("q_sim_33_centroid_matrix",
      """WITH e AS (SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 100000000 + 0.5) AS BIGINT) AS vi FROM embeddings),
        |cl AS (SELECT label, pos,
        |        CAST(floor(CAST(sum(vi) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c FROM e GROUP BY 1, 2)
        |SELECT CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b,
        | floor(CAST(sum(a.c * b.c) AS DOUBLE)
        |   / (sqrt(CAST(sum(a.c * a.c) AS DOUBLE)) * sqrt(CAST(sum(b.c * b.c) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cos_ab
        |FROM cl a JOIN cl b ON a.pos = b.pos AND a.label < b.label
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      graft.api.Pipelines.centroidMatrix(Tables(s, d, "embeddings")
          .select(col("label").cast("long").as("label"), col("embedding")), "label", "embedding")
        .orderBy("label_a", "label_b")
    }
  )
}
