package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11ab): graph family extensions —
  * k-core peeling, HITS hubs/authorities, bipartite co-supply
  * projection, and 3-hop harmonic closeness. All run on the supplier
  * handoff graph (q_graph_1's edge derivation) or the supplier↔part
  * bipartite relation.
  *
  * Determinism discipline (§2.12): peeling and frontier expansion are
  * pure integer set operations; HITS normalizes through exact
  * integer-sum ratios quantized 1e-6 after EVERY half-step, so both
  * engines chain identical values; all rankings order on quantized
  * integers with node-id tie-breaks.
  */
object Round5sOps {

  import Round2Ops.duckEdges

  val all: Seq[Q] = Seq(

    // 3-core peeling trajectory: how many nodes/edges survive each of
    // three peel rounds (degree < 3 removed, degrees recomputed) — the
    // density audit that PageRank/components don't give: a graph can be
    // connected yet have a hollow core. Runs on the SAMPLED handoff
    // graph (l_orderkey % 100 = 0 — the q_graph_15 family pattern): the
    // full sf0.1 graph is so dense (avg degree ~440) that a 3-core peel
    // removes nothing and the trajectory degenerates to three identical
    // rows; the sampled graph peels 851 → 843 → 842 at sf0.1, so the
    // query actually distinguishes a correct peel from a no-op.
    // count(*)/2 is CAST AS BIGINT in EVERY union branch (DuckDB `/` is
    // float division; an uncast branch widens n_edges to DOUBLE — the
    // r5 oracle-type failure).
    Q("q_graph_12_kcore",
      s"""WITH e0 AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
         |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 100 = 0),
         |b AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |d0 AS (SELECT src AS node, count(*) AS dg FROM b GROUP BY 1),
         |k1 AS (SELECT node FROM d0 WHERE dg >= 3),
         |e1 AS (SELECT b.src, b.dst FROM b WHERE b.src IN (SELECT node FROM k1) AND b.dst IN (SELECT node FROM k1)),
         |d1 AS (SELECT src AS node, count(*) AS dg FROM e1 GROUP BY 1),
         |k2 AS (SELECT node FROM d1 WHERE dg >= 3),
         |e2 AS (SELECT e1.src, e1.dst FROM e1 WHERE e1.src IN (SELECT node FROM k2) AND e1.dst IN (SELECT node FROM k2)),
         |d2 AS (SELECT src AS node, count(*) AS dg FROM e2 GROUP BY 1),
         |k3 AS (SELECT node FROM d2 WHERE dg >= 3),
         |e3 AS (SELECT e2.src, e2.dst FROM e2 WHERE e2.src IN (SELECT node FROM k3) AND e2.dst IN (SELECT node FROM k3))
         |SELECT * FROM (
         | SELECT CAST(1 AS BIGINT) AS round, (SELECT CAST(count(*) AS BIGINT) FROM k1) AS n_nodes,
         |  (SELECT CAST(count(*) / 2 AS BIGINT) FROM e1) AS n_edges
         | UNION ALL SELECT 2, (SELECT CAST(count(*) AS BIGINT) FROM k2), (SELECT CAST(count(*) / 2 AS BIGINT) FROM e2)
         | UNION ALL SELECT 3, (SELECT CAST(count(*) AS BIGINT) FROM k3), (SELECT CAST(count(*) / 2 AS BIGINT) FROM e3))
         |ORDER BY round""".stripMargin) { (s, d) =>
      // Each peel is degree-filter → left_semi both endpoints — pure
      // integer set algebra, no floats anywhere. The bidir edge list
      // checkpoints once. The survivor set is node-scaled (≤ |V|), so
      // the semi-joins carry NO broadcast hint: at 10⁸⁺ nodes a forced
      // broadcast is a hard failure (8 GB cap / driver OOM), while AQE
      // picks broadcast vs shuffle from the measured size at runtime.
      // r14: the session-cached bidirected mod-100 list (identical
      // derivation, materialized once across the nine sharing queries)
      val b = graft.sources.SampledEdges.bidir(s, d, 100)
      def peel(edges: DataFrame) = graft.api.Pipelines.kCorePeel(edges, "src", "dst", 3)
      val (k1, e1) = peel(b)
      val e1c = e1.localCheckpoint()
      val (k2, e2) = peel(e1c)
      val e2c = e2.localCheckpoint()
      val (k3, e3) = peel(e2c)
      def rowOf(r: Int, k: DataFrame, e: DataFrame) =
        k.agg(count(lit(1)).as("n_nodes")).crossJoin(e.agg((count(lit(1)) / 2).cast("long").as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      rowOf(1, k1, e1c).union(rowOf(2, k2, e2c)).union(rowOf(3, k3, e3))
        .orderBy("round")
    },

    // HITS hubs & authorities, two unrolled iterations with exact
    // integer-ratio normalization — who FEEDS the important suppliers
    // (hub) vs who IS fed by important ones (authority); PageRank
    // collapses the two roles into one score.
    Q("q_graph_13_hits",
      s"""WITH e AS (SELECT DISTINCT src, dst FROM ($duckEdges)),
         |h1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS v FROM e GROUP BY 1),
         |h1n AS (SELECT node, CAST(floor(CAST(v AS DOUBLE) / (SELECT sum(v) FROM h1) * 1000000 + 0.5) AS BIGINT) AS v FROM h1),
         |a1 AS (SELECT e.dst AS node, CAST(sum(h1n.v) AS BIGINT) AS v FROM e JOIN h1n ON e.src = h1n.node GROUP BY 1),
         |a1n AS (SELECT node, CAST(floor(CAST(v AS DOUBLE) / (SELECT sum(v) FROM a1) * 1000000 + 0.5) AS BIGINT) AS v FROM a1),
         |h2 AS (SELECT e.src AS node, CAST(sum(a1n.v) AS BIGINT) AS v FROM e JOIN a1n ON e.dst = a1n.node GROUP BY 1),
         |h2n AS (SELECT node, CAST(floor(CAST(v AS DOUBLE) / (SELECT sum(v) FROM h2) * 1000000 + 0.5) AS BIGINT) AS v FROM h2),
         |a2 AS (SELECT e.dst AS node, CAST(sum(h2n.v) AS BIGINT) AS v FROM e JOIN h2n ON e.src = h2n.node GROUP BY 1),
         |a2n AS (SELECT node, CAST(floor(CAST(v AS DOUBLE) / (SELECT sum(v) FROM a2) * 1000000 + 0.5) AS BIGINT) AS v FROM a2)
         |SELECT a2n.node, a2n.v / 1000000.0 AS authority,
         | coalesce(h2n.v, 0) / 1000000.0 AS hub
         |FROM a2n LEFT JOIN h2n ON a2n.node = h2n.node
         |ORDER BY a2n.v DESC, a2n.node LIMIT 10""".stripMargin) { (s, d) =>
      // r14: distinct handoff edges from the session-scoped cache
      // (mod 1 — the identical derivation, materialized once). The
      // top 10 by authority; authority is the 1e-6 integer score over
      // 1e6, so its order is the integer order.
      graft.api.Pipelines.hits(graft.sources.SampledEdges.handoff(s, d, 1), "src", "dst")
        .orderBy(col("authority").desc, col("node")).limit(10)
    },

    // Bipartite projection: supplier pairs weighted by DISTINCT shared
    // parts — a second, denser collaboration graph than the handoff
    // edges (two suppliers can stock the same parts without ever being
    // adjacent in any order).
    Q("q_graph_14_bipartite",
      """WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |pairs AS (SELECT a.sk AS s1, b.sk AS s2, CAST(count(*) AS BIGINT) AS shared_parts
        | FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk GROUP BY 1, 2)
        |SELECT s1, s2, shared_parts FROM pairs
        |ORDER BY shared_parts DESC, s1, s2 LIMIT 20""".stripMargin) { (s, d) =>
      // The projection generates pairs PER PART (O(Σ per-part-supplier²),
      // the wedge shape — never supplier all-pairs); the distinct
      // (part, supplier) relation is one dedup shuffle of two keys. At
      // 100 TB the per-part supplier fan-in is catalog-bounded, so the
      // quadratic stays per-part-local.
      // No checkpoint: the two join inputs are the IDENTICAL distinct
      // subtree, so Catalyst plans ONE exchange and a ReusedExchange
      // for the other side (r10 — the old localCheckpoint erased the
      // partitioning, forcing both sides through fresh exchanges and
      // holding the 2-key relation in block-manager memory for no
      // reuse benefit). SHUFFLE_HASH pins the wedge join away from the
      // sort-merge path: per-pk groups are catalog-bounded (max
      // fan-in 52 at every rehearsal scale), so the build side is
      // small per partition and the sort of the full relation bought
      // nothing.
      val ps = Tables(s, d, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
      ps.as("a").hint("SHUFFLE_HASH")
        .join(ps.as("b"), col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("s1"), col("b.sk").as("s2"))
        .agg(count(lit(1)).as("shared_parts"))
        .orderBy(col("shared_parts").desc, col("s1"), col("s2")).limit(20)
    },

    // 3-hop harmonic closeness: Σ 1/dist over nodes within 3 hops —
    // the "how central, really" readout (degree sees one hop; this sees
    // the reachable ball, weighted by proximity). Runs on the SAMPLED
    // handoff graph (l_orderkey % 100 = 0 — the q_graph_4/7 family
    // pattern): on the full graph the 3-hop ball is near-all-pairs
    // (measured: 200M+ intermediate rows, 49 s at sf0.1); sampling
    // keeps the ball sparse while preserving the centrality ordering
    // shape. Top 10.
    Q("q_graph_15_closeness",
      s"""WITH e0 AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
         |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 100 = 0),
         |b AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |r1 AS (SELECT DISTINCT src AS v, dst AS u FROM b),
         |r2 AS (SELECT DISTINCT r1.v, b.dst AS u FROM r1 JOIN b ON r1.u = b.src
         |       WHERE b.dst <> r1.v AND NOT EXISTS (SELECT 1 FROM r1 x WHERE x.v = r1.v AND x.u = b.dst)),
         |r3 AS (SELECT DISTINCT r2.v, b.dst AS u FROM r2 JOIN b ON r2.u = b.src
         |       WHERE b.dst <> r2.v
         |        AND NOT EXISTS (SELECT 1 FROM r1 x WHERE x.v = r2.v AND x.u = b.dst)
         |        AND NOT EXISTS (SELECT 1 FROM r2 y WHERE y.v = r2.v AND y.u = b.dst)),
         |cnt AS (SELECT v,
         |  (SELECT CAST(count(*) AS BIGINT) FROM r1 WHERE r1.v = cnt0.v) AS n1,
         |  (SELECT CAST(count(*) AS BIGINT) FROM r2 WHERE r2.v = cnt0.v) AS n2,
         |  (SELECT CAST(count(*) AS BIGINT) FROM r3 WHERE r3.v = cnt0.v) AS n3
         | FROM (SELECT DISTINCT v FROM r1) cnt0)
         |SELECT v AS node, n1, n2, n3,
         | CAST(floor((n1 * 1000000.0 + n2 * 500000.0 + n3 * 333333.0) / 1000000.0 * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS harmonic
         |FROM cnt ORDER BY n1 * 1000000 + n2 * 500000 + n3 * 333333 DESC, v LIMIT 10""".stripMargin) { (s, d) =>
      // Frontier expansion with layer-exclusion anti-joins — the
      // multi-source-BFS shape (each layer is distinct (v, u) pairs,
      // partitioned by v; at scale this is exactly bfsDistances'
      // frontier discipline). The harmonic weights are plan-time
      // integer constants (1e6, 5e5, 333333), so the score is an exact
      // integer and the ranking can't flip.
      // r14: the session-cached bidirected mod-100 list (identical
      // derivation, materialized once across the nine sharing queries)
      val b = graft.sources.SampledEdges.bidir(s, d, 100)
      val r1 = b.select(col("src").as("v"), col("dst").as("u")).distinct().localCheckpoint()
      val r2 = r1.join(b.withColumnRenamed("src", "u"), Seq("u"))
        .select(col("v"), col("dst").as("u2"))
        .filter(col("u2") =!= col("v"))
        .distinct()
        .join(r1.select(col("v"), col("u").as("u2")), Seq("v", "u2"), "left_anti")
        .select(col("v"), col("u2").as("u"))
        .localCheckpoint()
      val r3 = r2.join(b.withColumnRenamed("src", "u"), Seq("u"))
        .select(col("v"), col("dst").as("u3"))
        .filter(col("u3") =!= col("v"))
        .distinct()
        .join(r1.select(col("v"), col("u").as("u3")), Seq("v", "u3"), "left_anti")
        .join(r2.select(col("v"), col("u").as("u3")), Seq("v", "u3"), "left_anti")
        .select(col("v"), col("u3").as("u"))
      def cnt(df: DataFrame, name: String) =
        df.groupBy("v").agg(count(lit(1)).as(name))
      val c = cnt(r1, "n1")
        .join(cnt(r2, "n2"), Seq("v"), "left_outer")
        .join(cnt(r3, "n3"), Seq("v"), "left_outer")
        .na.fill(0L, Seq("n2", "n3"))
      val score = col("n1") * 1000000L + col("n2") * 500000L + col("n3") * 333333L
      c.select(col("v").as("node"), col("n1"), col("n2"), col("n3"),
          (floor(score.cast("double") / 1000000.0 * 1000000 + 0.5).cast("long") / 1000000.0)
            .as("harmonic"), score.as("sc"))
        .orderBy(col("sc").desc, col("node")).limit(10).drop("sc")
    }
  )
}
