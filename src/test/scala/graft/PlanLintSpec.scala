package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tools.PlanLint

/** The lint must SEE the scale-killer shapes it exists for — including
  * the two blind spots the round-10 verdict called out: offenders
  * hidden behind an eager `localCheckpoint` (the final plan only shows
  * the materialized scan) and offenders inside subquery plans (the
  * rules used to walk children only).
  */
class PlanLintSpec extends SparkSpec {

  private def nodes = {
    import spark.implicits._
    spark.sparkContext.parallelize(1L to 50000L, 8).toDF("id")
  }

  test("a bare single-partition global rank window trips window1p") {
    val df = nodes.select(col("id"),
      row_number().over(Window.orderBy(col("id").desc)).as("rn"))
    val hits = PlanLint.offenders(df.queryExecution.executedPlan)
    assert(hits.exists(_._1 == "window1p"), s"expected window1p, got $hits")
  }

  test("the same window HIDDEN behind localCheckpoint is caught via action capture") {
    // the r10 q_graph_21/22 shape: rank-then-checkpoint — the final
    // plan sees only the checkpoint scan, so plain offenders() is
    // blind. `rn > 5` (not <=): a rank-<=k filter gets a partial
    // WindowGroupLimit below the exchange, which the lint correctly
    // treats as bounded — the unbounded residual is the offender.
    def build = {
      val hubs = nodes.select(col("id"),
          row_number().over(Window.orderBy(col("id").desc)).as("rn"))
        .filter(col("rn") > 5).localCheckpoint()
      hubs.groupBy(lit(1).as("g")).agg(count(lit(1)).as("n"))
    }
    val blind = PlanLint.offenders(build.queryExecution.executedPlan)
    assert(!blind.exists(_._1 == "window1p"),
      "precondition: the final plan alone must NOT show the window " +
        s"(otherwise this test proves nothing): $blind")
    val hits = PlanLint.offendersWithActions(spark, build)
    assert(hits.exists { case (r, d) => r == "window1p" && d.contains("action") },
      s"capture must surface the checkpointed window: $hits")
  }

  test("the fixed hub-pick shape (exactGlobalRankBy + checkpoint) is clean") {
    def build = {
      val hubs = graft.api.Pipelines.exactGlobalRank(
          nodes, Seq(col("id").desc), "rn")._2
        .filter(col("rn") <= 5).localCheckpoint()
      hubs.groupBy(lit(1).as("g")).agg(count(lit(1)).as("n"))
    }
    val hits = PlanLint.offendersWithActions(spark, build)
      .filter(_._1 == "window1p")
    assert(hits.isEmpty, s"range-partitioned rank must not trip window1p: $hits")
  }

  test("windowconst: literal-keyed full-rank window over row-scaled input (pre-fix funnel shape)") {
    // the r12-verdict q_stream_30 shape: hop is a LITERAL per union
    // branch, the input is a user-keyed aggregate (row-scaled), and the
    // rank is full (no rn <= k rescue) — a 2-task corpus sort at scale
    val f = nodes.groupBy("id").agg(min("id").as("t"))
    val hops = f.select(lit("a").as("hop"), col("t").as("gap"))
      .union(f.select(lit("b").as("hop"), (col("t") * 2).as("gap")))
    val df = hops.withColumn("rn",
      row_number().over(Window.partitionBy("hop").orderBy("gap")))
    val hits = PlanLint.offenders(df.queryExecution.executedPlan)
    assert(hits.exists(_._1 == "windowconst"), s"expected windowconst, got $hits")
  }

  test("windowconst: fixture enum column key over a base scan is caught") {
    // q_stat_15/q_agg_29's pre-fix shape: partition by the 5-value
    // o_orderpriority over all orders
    val o = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_orderpriority").as("prio"), col("o_totalprice"), col("o_orderkey"))
    val df = o.withColumn("rn", row_number().over(
      Window.partitionBy("prio").orderBy("o_totalprice", "o_orderkey")))
    val hits = PlanLint.offenders(df.queryExecution.executedPlan)
    assert(hits.exists(_._1 == "windowconst"), s"expected windowconst, got $hits")
  }

  test("windowconst: rn <= k sites are rescued by WindowGroupLimit and stay clean") {
    val o = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_orderpriority").as("prio"), col("o_totalprice"), col("o_orderkey"))
    val df = o.withColumn("rn", row_number().over(
        Window.partitionBy("prio").orderBy("o_totalprice", "o_orderkey")))
      .filter(col("rn") <= 3)
    val hits = PlanLint.offenders(df.queryExecution.executedPlan)
      .filter(_._1 == "windowconst")
    assert(hits.isEmpty, s"top-k group limit must not flag: $hits")
  }

  test("windowconst: row-scaled partition keys and bounded inputs stay clean") {
    // per-user window: key cardinality scales with rows — not this rule's beat
    val byUser = nodes.withColumn("rn",
      row_number().over(Window.partitionBy("id").orderBy("id")))
    val h1 = PlanLint.offenders(byUser.queryExecution.executedPlan)
      .filter(_._1 == "windowconst")
    assert(h1.isEmpty, s"row-scaled key flagged: $h1")
    // window over an enum-keyed aggregate: input is <=k rows — fine
    val o = graft.sources.Tables(spark, sf, "orders")
    val agg = o.groupBy("o_orderpriority").agg(sum("o_totalprice").as("s"))
    val overAgg = agg.withColumn("rn",
      row_number().over(Window.partitionBy("o_orderpriority").orderBy("s")))
    val h2 = PlanLint.offenders(overAgg.queryExecution.executedPlan)
      .filter(_._1 == "windowconst")
    assert(h2.isEmpty, s"bounded (enum-keyed aggregate) input flagged: $h2")
  }

  test("windowconst: the converted funnel tail (exactGroupRankCount) is clean") {
    val f = nodes.groupBy("id").agg(min("id").as("t"))
    val hops = f.select(lit("a").as("hop"), col("t").as("gap_us"))
      .union(f.select(lit("b").as("hop"), (col("t") * 2).as("gap_us")))
    val hits = PlanLint.offendersWithActions(spark,
        graft.api.Pipelines.funnelGapStats(hops))
      .filter(h => h._1 == "windowconst" || h._1 == "window1p")
    assert(hits.isEmpty, s"converted tail must be clean: $hits")
  }

  test("a single-partition window inside a scalar subquery is caught") {
    nodes.createOrReplaceTempView("lint_nodes")
    // NOTE a bare ORDER BY under an aggregate is useless and Catalyst's
    // EliminateSorts removes it, so the subquery offender here is the
    // indestructible form: a global rank window. `rn > 5` (not <=)
    // keeps WindowGroupLimit from bounding it.
    val df = spark.sql(
      """SELECT id FROM lint_nodes
        |WHERE id > (SELECT max(id) FROM (
        |  SELECT id, row_number() OVER (ORDER BY id DESC) AS rn
        |  FROM lint_nodes) WHERE rn > 5)""".stripMargin)
    val hits = PlanLint.offenders(df.queryExecution.executedPlan)
    assert(hits.exists(_._1 == "window1p"),
      s"subquery global window must be visible: $hits")
  }
}
