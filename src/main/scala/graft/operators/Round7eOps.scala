package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11be): graph-structure additions —
  * the rich-club coefficient, degree-distribution Gini, and the
  * hub-knockout robustness experiment. All on the supplier handoff
  * graph (q_graph_1's derivation; sampled variants follow the
  * q_graph_4/12 precedent so the structure is non-trivial).
  *
  * Determinism discipline (§2.12): degrees, ranks and component labels
  * are exact integers; hub selection orders by (degree DESC, node);
  * densities and ratios quantize 1e-6 at emission.
  */
object Round7eOps {

  /** DuckDB mirror of [[graft.sources.SampledEdges.bidir]] (the Spark
    * side now reads the session-cached bidirected list directly — r14).
    */
  private[operators] def duckBidir(mod: Int): String =
    s"""SELECT src, dst FROM (
       | SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
       | FROM lineitem a JOIN lineitem b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
       | WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % $mod = 0)
       |UNION SELECT dst, src FROM (
       | SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
       | FROM lineitem a JOIN lineitem b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
       | WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % $mod = 0)""".stripMargin

  val all: Seq[Q] = Seq(

    // Rich-club coefficient: edge density among the top-decile-degree
    // nodes vs the whole graph's density. φ ≫ 1 means the hubs form a
    // tightly-wired elite — the structural fact behind q_graph_17's
    // friendship paradox, measured directly. Sampled graph (mod 20) so
    // the decile is a real minority, not the whole near-clique.
    Q("q_graph_21_rich_club",
      s"""WITH b AS (${duckBidir(20)}),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |hubs AS (SELECT node FROM (SELECT node,
         |   row_number() OVER (ORDER BY deg DESC, node) AS rn FROM deg), n
         |  WHERE rn <= greatest(n.n // 10, 2)),
         |eh AS (SELECT CAST(count(*) AS BIGINT) AS e2 FROM b
         |  WHERE src IN (SELECT node FROM hubs) AND dst IN (SELECT node FROM hubs)),
         |ea AS (SELECT CAST(count(*) AS BIGINT) AS e2 FROM b),
         |nh AS (SELECT CAST(count(*) AS BIGINT) AS nh FROM hubs)
         |SELECT n.n AS n_nodes, nh.nh AS n_hubs,
         | CAST(ea.e2 / 2 AS BIGINT) AS n_edges,
         | CAST(eh.e2 / 2 AS BIGINT) AS n_hub_edges,
         | floor(CAST(eh.e2 AS DOUBLE) / (nh.nh * (nh.nh - 1)) * 1000000 + 0.5) / 1000000 AS hub_density,
         | floor(CAST(ea.e2 AS DOUBLE) / (n.n * (n.n - 1)) * 1000000 + 0.5) / 1000000 AS density,
         | floor((CAST(eh.e2 AS DOUBLE) / (nh.nh * (nh.nh - 1)))
         |   / (CAST(ea.e2 AS DOUBLE) / (n.n * (n.n - 1))) * 10000 + 0.5) / 10000 AS rich_club_ratio
         |FROM n, nh, eh, ea""".stripMargin) { (s, d) =>
      // r14: the session-cached bidirected mod-20 list (identical
      // derivation, materialized once per session)
      graft.api.Pipelines.richClub(graft.sources.SampledEdges.bidir(s, d, 20), "src", "dst")
    },

    // Hub-knockout robustness: component structure before and after
    // removing the top-1% highest-degree nodes — the attack-surface
    // readout (a giant component that shatters under 8 knockouts is
    // hub-dependent; one that survives is mesh-like). Same sampled
    // graph as q_graph_4, so the component machinery is exercised on a
    // genuinely disconnected structure.
    Q("q_graph_22_hub_knockout",
      s"""WITH RECURSIVE b AS (${duckBidir(200)}),
         |nodes AS (SELECT DISTINCT src AS node FROM b),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |hubs AS (SELECT node FROM (SELECT node,
         |   row_number() OVER (ORDER BY deg DESC, node) AS rn FROM deg), nn
         |  WHERE rn <= greatest(nn.n // 100, 1)),
         |walk0(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT b.dst, w.label FROM walk0 w JOIN b ON b.src = w.node),
         |c0 AS (SELECT node, min(label) AS comp FROM walk0 GROUP BY node),
         |b1 AS (SELECT src, dst FROM b
         |  WHERE src NOT IN (SELECT node FROM hubs) AND dst NOT IN (SELECT node FROM hubs)),
         |n1 AS (SELECT node FROM nodes WHERE node NOT IN (SELECT node FROM hubs)),
         |walk1(node, label) AS (
         |  SELECT node, node FROM n1
         |  UNION
         |  SELECT b1.dst, w.label FROM walk1 w JOIN b1 ON b1.src = w.node),
         |c1 AS (SELECT node, min(label) AS comp FROM walk1 GROUP BY node),
         |s0 AS (SELECT CAST(sum(cs) AS BIGINT) AS n_nodes,
         |  CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(max(cs) AS BIGINT) AS largest
         | FROM (SELECT comp, count(*) AS cs FROM c0 GROUP BY comp)),
         |s1 AS (SELECT CAST(sum(cs) AS BIGINT) AS n_nodes,
         |  CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(max(cs) AS BIGINT) AS largest
         | FROM (SELECT comp, count(*) AS cs FROM c1 GROUP BY comp))
         |SELECT 'a_original' AS scenario, n_nodes, n_components, largest FROM s0
         |UNION ALL
         |SELECT 'b_hubs_removed', n_nodes, n_components, largest FROM s1
         |ORDER BY scenario""".stripMargin) { (s, d) =>
      // ONE CC run covers BOTH scenarios (r11): the knockout copy's
      // node ids shift by a constant OFF into a disjoint range, the
      // two edge sets union, and a single large-star/small-star run
      // labels both — components never mix across copies (labels are
      // per-component minima and the id ranges are disjoint), so the
      // per-copy summaries are byte-identical to two separate runs
      // while the CC's per-round fixed cost (checkpoint + stats
      // actions, ~6 stages/round) is paid ONCE over ~2× tiny data
      // instead of twice. The hub list is tiny and broadcast into
      // anti joins; the hub pick is the range-partitioned
      // exactGlobalRankBy.
      val OFF = 1000000000000L // suppkeys are far below 1e12
      // r14: the session-cached bidirected mod-200 list (identical
      // derivation, materialized once; q_graph_27 shares it)
      val b = graft.sources.SampledEdges.bidir(s, d, 200)
      val nodes = b.select(col("src").as("node")).distinct().localCheckpoint()
      val n = nodes.count()
      val nHubs = math.max(n / 100, 1L)
      val hubs = graft.api.Pipelines.exactGlobalRankBy(
          b.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
          Seq(col("deg").desc, col("node")), "rn")
        .filter(col("rn") <= nHubs).select("node").localCheckpoint()
      val hubs2 = hubs.withColumnRenamed("node", "node2")
      val b1 = b.join(broadcast(hubs), b("src") === hubs("node"), "left_anti")
        .join(broadcast(hubs2), col("dst") === col("node2"), "left_anti")
      val n1 = nodes.join(broadcast(hubs.withColumnRenamed("node", "hnode")),
        col("node") === col("hnode"), "left_anti")
      val bothNodes = nodes.union(n1.select((col("node") + OFF).as("node")))
      val bothEdges = b.union(b1.select((col("src") + OFF).as("src"),
        (col("dst") + OFF).as("dst")))
      val cc = graft.api.Pipelines
        .connectedComponents(bothNodes, "node", bothEdges, "src", "dst")
        .localCheckpoint()
      def summarize(tag: String, labeled: DataFrame): DataFrame =
        labeled.groupBy("component").agg(count(lit(1)).as("cs"))
          .agg(sum("cs").as("n_nodes"), count(lit(1)).as("n_components"),
            max("cs").as("largest"))
          .select(lit(tag).as("scenario"), col("n_nodes"), col("n_components"),
            col("largest"))
      summarize("a_original", cc.filter(col("node") < OFF))
        .union(summarize("b_hubs_removed", cc.filter(col("node") >= OFF)))
        .orderBy("scenario")
    },

    // Degree-distribution Gini: inequality of the full handoff graph's
    // degree sequence — the scalar that says whether q_graph_11's
    // degree histogram is egalitarian or hub-dominated, computed from
    // exact rank·degree sums.
    Q("q_graph_23_degree_gini",
      s"""WITH b AS (SELECT src, dst FROM (
         |  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
         |  WHERE a.l_suppkey <> b.l_suppkey)
         | UNION SELECT dst, src FROM (
         |  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
         |  WHERE a.l_suppkey <> b.l_suppkey)),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY 1),
         |r AS (SELECT deg, CAST(row_number() OVER (ORDER BY deg, node) AS BIGINT) AS i FROM deg),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(deg) AS BIGINT) AS sd,
         |  CAST(sum(i * deg) AS BIGINT) AS sid, CAST(max(deg) AS BIGINT) AS maxd FROM r)
         |SELECT n AS n_nodes, sd AS total_degree, maxd AS max_degree,
         | floor((2.0 * sid - CAST(n + 1 AS DOUBLE) * sd)
         |   / (CAST(n AS DOUBLE) * sd) * 1000000 + 0.5) / 1000000 AS gini
         |FROM m""".stripMargin) { (s, d) =>
      // r14: distinct handoff edges from the session-scoped cache
      // (mod 1 — the identical derivation, materialized once)
      val e = graft.sources.SampledEdges.handoff(s, d, 1)
      graft.api.Pipelines.degreeGini(
        e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct(), "src")
    }
  )
}
