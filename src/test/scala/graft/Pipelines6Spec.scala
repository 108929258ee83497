package graft

import graft.api.Pipelines
import org.apache.spark.sql.functions._

/** Parity pins for the late-round-5 Pipelines wrappers. */
class Pipelines6Spec extends SparkSpec {

  private def orderCents =
    graft.sources.Tables(spark, sf, "orders")
      .join(broadcast(graft.sources.Tables(spark, sf, "customer")
        .select("c_custkey", "c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(graft.sources.Tables(spark, sf, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(graft.sources.Tables(spark, sf, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("c_custkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))

  test("pareto == q_win_25_pareto at 4/5") {
    val perCustomer = orderCents.groupBy("region", "c_custkey").agg(sum("cents").as("cents"))
    val api = Pipelines.pareto(perCustomer, "region", "c_custkey", "cents")
      .orderBy("region")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val pinned = Registry.byName("q_win_25_pareto").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(api.toSeq == pinned.toSeq)
  }

  test("shareOfParent == q_agg_40_share_of_parent") {
    val perNation = orderCents.groupBy("region", "nation").agg(sum("cents").as("cents"))
    val api = Pipelines.shareOfParent(perNation, "region", "cents")
      .orderBy("region", "nation")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3), r.getDouble(4)))
    val pinned = Registry.byName("q_agg_40_share_of_parent").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3), r.getDouble(4)))
    assert(api.toSeq == pinned.toSeq)
  }

  test("smaCrossovers == q_time_18_sma_cross at 5/20") {
    val daily = graft.sources.Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("dday"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val api = Pipelines.smaCrossovers(daily, "dday", "cents")
      .orderBy("dday").collect().map(r => (r.getLong(0), r.getLong(1)))
    val pinned = Registry.byName("q_time_18_sma_cross").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(api.toSeq == pinned.toSeq)
  }

  test("retentionCurve == q_stream_32_retention_curve at offsets 1/7/30") {
    val ev = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
    val api = Pipelines.retentionCurve(ev, "user_id", "d").collect().head
    val pinned = Registry.byName("q_stream_32_retention_curve").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }
}
