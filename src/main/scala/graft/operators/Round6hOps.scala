package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 continuation (SURVEY §2.11ax): community structure on the
  * supplier handoff graph — synchronous label propagation, Adamic–Adar
  * link prediction, and exact integer modularity of the nation
  * partition.
  *
  * Determinism discipline (§2.12): label propagation ties break
  * (count DESC, label ASC); Adamic–Adar weights quantize 1/ln(deg) to
  * 1e-6 integers per common neighbor BEFORE the per-pair sum; modularity
  * is exact BIGINT arithmetic with one final int/int double division.
  */
object Round6hOps {

  /** Sampled symmetrized handoff graph (the q_graph_12/15 fixture
    * slice: l_orderkey % 100 = 0 keeps the graph sparse enough that
    * structure queries discriminate). r14: the session-cached
    * bidirected list (identical derivation, materialized once across
    * the nine sharing queries, already checkpointed).
    */
  private def sampledBidir(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.sources.SampledEdges.bidir(s, d, 100)

  private val duckSampledBidir =
    """e0 AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
      |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 100 = 0),
      |b AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)""".stripMargin

  val all: Seq[Q] = Seq(

    // Synchronous label propagation, 3 rounds: every node adopts the
    // most frequent label among its neighbors (ties → smallest label),
    // starting from label = node id. The top-20 community sizes after
    // round 3 are the readout — the cheap community detector that needs
    // no modularity optimization and parallelizes as pure joins.
    Q("q_graph_18_labelprop",
      s"""WITH $duckSampledBidir,
         |r0 AS (SELECT DISTINCT src AS node, src AS lab FROM b),
         |c1 AS (SELECT b.src AS node, l.lab, count(*) AS c FROM b JOIN r0 l ON b.dst = l.node GROUP BY 1, 2),
         |r1 AS (SELECT node, lab FROM (SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rk FROM c1) WHERE rk = 1),
         |c2 AS (SELECT b.src AS node, l.lab, count(*) AS c FROM b JOIN r1 l ON b.dst = l.node GROUP BY 1, 2),
         |r2 AS (SELECT node, lab FROM (SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rk FROM c2) WHERE rk = 1),
         |c3 AS (SELECT b.src AS node, l.lab, count(*) AS c FROM b JOIN r2 l ON b.dst = l.node GROUP BY 1, 2),
         |r3 AS (SELECT node, lab FROM (SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rk FROM c3) WHERE rk = 1)
         |SELECT CAST(row_number() OVER (ORDER BY sz DESC, community) AS BIGINT) AS rank,
         | community, sz AS size
         |FROM (SELECT lab AS community, CAST(count(*) AS BIGINT) AS sz FROM r3 GROUP BY 1)
         |ORDER BY rank LIMIT 20""".stripMargin) { (s, d) =>
      val labels = graft.api.Pipelines.labelPropagation(sampledBidir(s, d), "src", "dst", 3)
      val sizes = labels.groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("size"))
      // TakeOrdered top-20, then the rank window over just 20 rows
      sizes.orderBy(col("size").desc, col("community")).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("size").desc, col("community"))).cast("long"))
        .select("rank", "community", "size")
        .orderBy("rank")
    },

    // Adamic–Adar link prediction: for non-adjacent pairs sharing ≥1
    // neighbor, score = Σ_z 1/ln(deg(z)) over common neighbors z — the
    // classic "who should be connected" feature that discounts hub
    // intermediaries (a shared rare neighbor says more than a shared
    // hub). Top-20 candidate pairs.
    Q("q_graph_19_adamic_adar",
      s"""WITH $duckSampledBidir,
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg FROM b GROUP BY 1),
         |w AS (SELECT node, CAST(floor(1000000 / ln(CAST(dg AS DOUBLE)) + 0.5) AS BIGINT) AS wz
         |      FROM deg WHERE dg >= 2),
         |cand AS (SELECT x.src AS a, y.src AS bb, CAST(count(*) AS BIGINT) AS n_common,
         |         CAST(sum(w.wz) AS BIGINT) AS score6
         |  FROM b x JOIN b y ON x.dst = y.dst AND x.src < y.src
         |  JOIN w ON w.node = x.dst
         |  WHERE NOT EXISTS (SELECT 1 FROM b e WHERE e.src = x.src AND e.dst = y.src)
         |  GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY score6 DESC, a, bb) AS BIGINT) AS rank,
         | a, bb AS b, n_common, CAST(score6 AS DOUBLE) / 1000000 AS score
         |FROM cand ORDER BY rank LIMIT 20""".stripMargin) { (s, d) =>
      val cand = graft.api.Pipelines.adamicAdar(sampledBidir(s, d), "src", "dst")
      // TakeOrdered top-20 over the candidate-pair table (which scales
      // with wedge count), then the rank window over just 20 rows
      cand.orderBy(col("score6").desc, col("a"), col("b")).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score6").desc, col("a"), col("b"))).cast("long"))
        .select(col("rank"), col("a"), col("b"), col("n_common"),
          (col("score6").cast("double") / 1000000).as("score"))
        .orderBy("rank")
    },

    // Modularity of the nation partition: does the org chart (supplier
    // nationality) explain the handoff graph's community structure?
    // Q_c = (m2·dir_c − d_c²) / m2² per community c, where m2 = total
    // directed edges, dir_c = directed edges inside c, d_c = degree sum
    // of c — the halving-free form of e_c/m − (d_c/2m)². Positive
    // contribution = denser inside than chance.
    Q("q_graph_20_modularity",
      s"""WITH $duckSampledBidir,
         |com AS (SELECT s_suppkey AS node, s_nationkey AS c FROM supplier),
         |m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM b),
         |within AS (SELECT ca.c, CAST(count(*) AS BIGINT) AS dir_within
         |  FROM b JOIN com ca ON b.src = ca.node JOIN com cb ON b.dst = cb.node
         |  WHERE ca.c = cb.c GROUP BY 1),
         |degsum AS (SELECT com.c, CAST(count(*) AS BIGINT) AS deg_sum
         |  FROM b JOIN com ON b.src = com.node GROUP BY 1)
         |SELECT ds.c AS community, n.n_name, COALESCE(w.dir_within, CAST(0 AS BIGINT)) AS dir_within,
         | ds.deg_sum,
         | floor(CAST(m2 * COALESCE(w.dir_within, CAST(0 AS BIGINT)) - ds.deg_sum * ds.deg_sum AS DOUBLE)
         |   / CAST(m2 * m2 AS DOUBLE) * 1000000000 + 0.5) / 1000000000 AS contribution
         |FROM degsum ds LEFT JOIN within w ON ds.c = w.c
         | JOIN nation n ON ds.c = n.n_nationkey CROSS JOIN m2t
         |ORDER BY community""".stripMargin) { (s, d) =>
      val com = Tables(s, d, "supplier")
        .select(col("s_suppkey").as("node"), col("s_nationkey").as("c"))
      val nation = Tables(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      graft.api.Pipelines.modularity(sampledBidir(s, d), "src", "dst", com)
        .join(broadcast(nation), col("community") === col("n_nationkey"))
        .select(col("community"), col("n_name"), col("dir_within"), col("deg_sum"),
          col("contribution"))
        .orderBy("community")
    }
  )
}
