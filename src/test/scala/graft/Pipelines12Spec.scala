package graft

import org.apache.spark.sql.functions._

/** Round-11 hardening pins: the skew-safe connectedComponents rewrite
  * (groupBy+join min labels instead of window-over-partitionBy) and the
  * hub-pick plan contracts for the two queries the r10 verdict flagged.
  */
class Pipelines12Spec extends SparkSpec {

  import graft.api.Pipelines

  test("connectedComponents labels a 10^4-degree hub star correctly") {
    import spark.implicits._
    // one star: hub 0 with 10,000 spokes, plus a disjoint 3-chain and
    // an isolated node — the exact shape the window form serialized
    // (the hub's whole adjacency in one task per round)
    val spokes = (1L to 10000L).map(i => (0L, i))
    val chain = Seq((20001L, 20002L), (20002L, 20003L))
    val edges = (spokes ++ chain).toDF("src", "dst")
    val nodes = ((0L to 10000L) ++ Seq(20001L, 20002L, 20003L, 30000L))
      .toDF("id")
    val cc = Pipelines.connectedComponents(nodes, "id", edges, "src", "dst")
      .groupBy("component").agg(count(lit(1)).as("n"))
      .orderBy("component")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq == Seq((0L, 10001L), (20001L, 3L), (30000L, 1L)),
      s"got ${cc.toSeq}")
  }

  test("connectedComponents on a hub star matches min-label semantics when the hub is NOT the min") {
    import spark.implicits._
    // hub id LARGER than every spoke: the component label must still be
    // the global min (1), exercising both star directions
    val edges = (1L to 5000L).map(i => (99999L, i)).toDF("src", "dst")
    val nodes = ((1L to 5000L) :+ 99999L).toDF("id")
    val cc = Pipelines.connectedComponents(nodes, "id", edges, "src", "dst")
    assert(cc.agg(countDistinct("component")).head().getLong(0) == 1L)
    assert(cc.agg(min("component"), max("component")).head().toSeq == Seq(1L, 1L))
  }

  test("q_graph_21/22 hub picks are lint-clean INCLUDING checkpointed action plans") {
    // the r10 verdict shape: a single-partition rank window hidden
    // behind localCheckpoint. After the exactGlobalRank conversion,
    // the action-capturing lint must see zero window1p hits anywhere.
    for (name <- Seq("q_graph_21_rich_club", "q_graph_22_hub_knockout")) {
      val hits = graft.tools.PlanLint
        .offendersWithActions(spark, Registry.byName(name).fn(spark, sf))
        .filter(_._1 == "window1p")
      assert(hits.isEmpty, s"$name must have no one-task windows: $hits")
    }
  }
}
