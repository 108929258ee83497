package graft

import graft.api.Pipelines
import org.apache.spark.sql.functions._

/** Parity pins for the round-5 Pipelines wrappers: the generic forms
  * must reproduce their oracle-pinned declared queries exactly, and the
  * iterative generalizations (hits, kCore) must agree with the unrolled
  * query forms at matching parameters.
  */
class Pipelines5Spec extends SparkSpec {

  private def events = graft.sources.Tables(spark, sf, "events")

  test("rfmSegments == q_stream_27_rfm") {
    val api = Pipelines.rfmSegments(
      events.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(expr("unix_micros(ts)")).as("us"), count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents")),
      "user_id", "us", "n", "cents")
      .orderBy("r", "f", "m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pinned = Registry.byName("q_stream_27_rfm").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(api.toSeq == pinned.toSeq)
  }

  test("hits(iters=2) == q_graph_13_hits top-10") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") + 1 === col("b.l_linenumber") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
    val api = Pipelines.hits(e.distinct(), "src", "dst")
      .orderBy(col("authority").desc, col("node")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val pinned = Registry.byName("q_graph_13_hits").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(api.toSeq == pinned.toSeq)
  }

  test("kCore peels to a fixpoint where every node has degree >= k") {
    // same l_orderkey % 100 = 0 sampled graph as q_graph_12_kcore (the
    // full fixture graph is too dense for a 3-core peel to remove
    // anything, so the subgraph relation below would be vacuous)
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") + 1 === col("b.l_linenumber") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
    // iterate the declared query's peel round to the fixpoint
    val bidir = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    var core = bidir.localCheckpoint()
    var n = core.count()
    var done = false
    while (!done) {
      val next = Pipelines.kCorePeel(core, "src", "dst", 3)._2.localCheckpoint()
      val n2 = next.count()
      done = n2 == n
      core = next
      n = n2
    }
    val degs = core.groupBy("src").agg(count(lit(1)).as("dg"))
      .collect().map(_.getLong(1))
    // fixpoint: every surviving node keeps degree >= 3
    degs.foreach(d => assert(d >= 3))
    // and the 3-core is a subgraph of round-3 of the peel trajectory
    val r3 = Registry.byName("q_graph_12_kcore").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).last
    val coreNodes = core.select("src").distinct().count()
    assert(coreNodes <= r3._2)
  }

  test("bootstrapMeanCI == q_stat_28_bootstrap_ci (cents scale)") {
    val api = Pipelines.bootstrapMeanCI(
      graft.sources.Tables(spark, sf, "orders")
        .select(col("o_orderkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
      "o_orderkey", "cents").collect().head
    val pinned = Registry.byName("q_stat_28_bootstrap_ci").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("macd == q_win_19_macd on the daily purchase series") {
    val daily = events.filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("dday"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val api = Pipelines.macd(daily, "dday", "cents", 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val pinned = Registry.byName("q_win_19_macd").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(api.toSeq == pinned.toSeq)
  }

  test("benjaminiHochberg rejects a prefix and respects the step-up rule") {
    val ps = spark.createDataFrame(Seq(
      (1L, 0.001), (2L, 0.008), (3L, 0.039), (4L, 0.041), (5L, 0.042),
      (6L, 0.06), (7L, 0.074), (8L, 0.205), (9L, 0.212), (10L, 0.216)
    )).toDF("id", "p").select(col("id"), floor(col("p") * 1000000 + 0.5).cast("long").as("p6"))
    // m = 10 tests at alpha = 1/20: m/alpha = 200
    val out = Pipelines.benjaminiHochberg(ps, "id", "p6", 200L)
      .collect().map(r => (r.getLong(0), r.getInt(2).toLong, r.getLong(3)))
    // at alpha = 0.05: p(1)=0.001 <= 0.005 and p(2)=0.008 <= 0.010 pass,
    // p(3)=0.039 > 0.015 and every later rank fails its threshold,
    // so the step-up rejects exactly the first two
    val rejected = out.filter(_._3 == 1L).map(_._2)
    assert(rejected.nonEmpty && rejected.max == rejected.length)
    assert(rejected.max == 2)
    // recompute the rule directly
    val kmax = out.map { case (_, k, _) => k }.zip(out.map(_._1)).collect {
      case (k, id) if {
        val p = Map(1L -> 0.001, 2L -> 0.008, 3L -> 0.039, 4L -> 0.041, 5L -> 0.042,
          6L -> 0.06, 7L -> 0.074, 8L -> 0.205, 9L -> 0.212, 10L -> 0.216)(id)
        math.floor(p * 1e6 + 0.5) * 10 * 20 <= k * 1000000L
      } => k
    }.max
    assert(kmax == 2)
  }

  test("weightedVariance == q_agg_38_weighted_var") {
    val api = Pipelines.weightedVariance(
      graft.sources.Tables(spark, sf, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("w"),
          col("l_quantity").cast("long").as("x")),
      "l_returnflag", "x", "w")
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val pinned = Registry.byName("q_agg_38_weighted_var").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(api.toSeq == pinned.toSeq)
  }

  test("softDedupWeights: effective size matches q_dedup_20 per source") {
    val w = Pipelines.softDedupWeights(
      graft.sources.Tables(spark, sf, "documents"), "source", "text")
    val api = w.groupBy("source")
      .agg((floor(sum("w6").cast("double") / 1000000 * 10000 + 0.5) / 10000).as("eff"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val pinned = Registry.byName("q_dedup_20_soft_weight").fn(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(api == pinned)
  }

  test("containment == the matching q_dq_28_inclusion row") {
    val api = Pipelines.containment(
      graft.sources.Tables(spark, sf, "lineitem"), "l_suppkey",
      graft.sources.Tables(spark, sf, "supplier"), "s_suppkey").collect().head
    val pinned = Registry.byName("q_dq_28_inclusion").fn(spark, sf)
      .collect().find(_.getString(0) == "lineitem.l_suppkey->supplier").get
    assert(api.getLong(0) == pinned.getLong(1))
    assert(api.getLong(1) == pinned.getLong(2))
    assert(api.getDouble(2) == pinned.getDouble(3))
  }
}
