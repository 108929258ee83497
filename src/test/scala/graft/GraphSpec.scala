package graft

import org.apache.spark.sql.functions._

/** PageRank + graph-operator invariants beyond the DuckDB gate:
  * probability-mass conservation (the dangling-mass contract), the
  * convergence-driven mode, and the single-scan plan shapes that keep
  * the iterative queries from re-deriving the fact-table self-join per
  * round (the round-2 perf bug).
  */
class GraphSpec extends SparkSpec {

  import graft.api.Pipelines

  /** Tiny directed graph with a dangling node (4 has no out-edges) and
    * a disconnected-ish tail: exercises both correction terms.
    */
  private def toyEdges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L), (5L, 1L))
      .toDF("src", "dst")
  }

  test("pageRank conserves probability mass (Σ rank ≈ 1) after every iteration count") {
    for (iters <- 1 to 4) {
      val ranks = Pipelines.pageRank(toyEdges, "src", "dst", maxIters = iters)
      val total = ranks.agg(sum("rank")).first().getDouble(0)
      assert(math.abs(total - 1.0) < 1e-9,
        s"after $iters iterations Σ rank = $total — dangling mass is leaking")
      assert(ranks.filter(col("rank") <= 0).count() == 0, "ranks must stay positive")
    }
  }

  test("pageRank convergence mode reaches a fixpoint and matches a long fixed run") {
    val converged = Pipelines.pageRank(toyEdges, "src", "dst", maxIters = 100, tol = 1e-12)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val fixed = Pipelines.pageRank(toyEdges, "src", "dst", maxIters = 80)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(converged.map(_._1).sameElements(fixed.map(_._1)))
    converged.zip(fixed).foreach { case ((n, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9, s"node $n: converged=$a fixed=$b")
    }
    // the dangling node (4) still holds rank, and the hub (3: two
    // in-edges from the cycle) outranks the leaf feeder (5)
    val m = converged.toMap
    assert(m(4L) > 0.0 && m(3L) > m(5L))
  }

  test("pageRank throws loudly when tol is unreachable in maxIters") {
    intercept[IllegalStateException] {
      Pipelines.pageRank(toyEdges, "src", "dst", maxIters = 1, tol = 1e-15)
    }
  }

  test("q_graph_2_pagerank plan derives the edge list once (no per-iteration fact scans)") {
    val df = Registry.byName("q_graph_2_pagerank").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // all iteration inputs are localCheckpointed: the FINAL plan must
    // contain zero parquet scans of lineitem (round 2 had the
    // edge-derivation subtree 4x in a 368-node plan)
    assert(!plan.contains("lineitem"),
      "pagerank final plan must read checkpointed inputs, not re-derive edges:\n" + plan)
    assert(df.count() > 0)
  }

  test("q_graph_3_twohop plan derives the edge list once") {
    val df = Registry.byName("q_graph_3_twohop").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("lineitem"),
      "twohop must reuse one checkpointed edge list across hops:\n" + plan)
    assert(df.count() > 0)
  }

  test("bfsDistances: the default root is the smallest id, a source reaches only its component") {
    import spark.implicits._
    // a path 10-11-12-13 (10 only ever a dst) and a triangle 20-21-22
    val g = Seq((11L, 10L), (12L, 11L), (12L, 13L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("a", "b")
    def dists(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dists(Pipelines.bfsDistances(g, "a", "b", "id")) ==
      Seq((10L, 0L), (11L, 1L), (12L, 2L), (13L, 3L)))
    assert(dists(Pipelines.bfsDistances(g, "a", "b", "id", Some(21L))) ==
      Seq((20L, 1L), (21L, 0L), (22L, 1L)))
    // eccentricity 3 needs a 4th, empty hop to see the frontier die
    intercept[IllegalStateException] {
      Pipelines.bfsDistances(g, "a", "b", "id", maxIters = 3)
    }
  }

  test("kTrussPeel: support is the common-neighbour count; zero-support edges drop at k = 3") {
    import spark.implicits._
    // K4 on 1..4, a triangle 4-5-6 hanging off it, and a tail 6-7-8
    // whose two edges sit on no triangle
    val canon = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L), (7L, 8L))
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bidir = (canon ++ canon.map(_.swap)).toDF("src", "dst")
    for (k <- Seq(3, 4, 5)) {
      val want = canon.filter { case (u, v) => (adj(u) & adj(v)).size >= k - 2 }.toSet
      val got = Pipelines.kTrussPeel(canon.toDF("u", "v"), bidir, k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"k = $k")
      assert(!got.contains((6L, 7L)), s"k = $k")
    }
    intercept[IllegalArgumentException] {
      Pipelines.kTrussPeel(canon.toDF("u", "v"), bidir, 2)
    }
  }
}
