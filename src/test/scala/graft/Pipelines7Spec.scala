package graft

import graft.api.Pipelines
import org.apache.spark.sql.functions._

/** Round-6 Pipelines wrappers: each generic form must reproduce its
  * declared (oracle-verified) query exactly on the sf0.001 fixtures.
  */
class Pipelines7Spec extends SparkSpec {

  private def docs = graft.sources.Tables(spark, sf, "documents")
  private def li = graft.sources.Tables(spark, sf, "lineitem")

  test("bitmapDistinct == q_agg_42_bitmap_distinct") {
    val api = Pipelines.bitmapDistinct(li, "l_returnflag", "l_suppkey")
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val pinned = Registry.byName("q_agg_42_bitmap_distinct").fn(spark, sf)
      .select("l_returnflag", "n_bitmap").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(api == pinned)
  }

  test("durbinWatson == q_stat_31_durbin_watson") {
    val dly = graft.sources.Tables(spark, sf, "orders")
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    val api = Pipelines.durbinWatson(dly, "x", "y").collect().head
    val pinned = Registry.byName("q_stat_31_durbin_watson").fn(spark, sf).collect().head
    assert(api.getLong(0) == pinned.getLong(0))
    assert(api.getDouble(1) == pinned.getDouble(1))
    assert(api.getDouble(2) == pinned.getDouble(2))
  }

  test("stochasticOscillator == q_win_27_stochastic") {
    val dly = graft.sources.Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val api = Pipelines.stochasticOscillator(dly, "day", "cents")
      .orderBy("day").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val pinned = Registry.byName("q_win_27_stochastic").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(api == pinned)
  }

  test("adjacentSetJaccard == q_set_8_month_jaccard") {
    val ms = li.select((year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
      .cast("long").as("mi"), col("l_suppkey"))
    val api = Pipelines.adjacentSetJaccard(ms, "mi", "l_suppkey")
      .orderBy("mi").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val pinned = Registry.byName("q_set_8_month_jaccard").fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(api == pinned)
  }

  test("charClassProfile == q_text_49_char_classes") {
    val api = Pipelines.charClassProfile(docs, "source", "text")
      .orderBy("source").collect().toSeq
    val pinned = Registry.byName("q_text_49_char_classes").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("boilerplateShare == q_text_50_boilerplate") {
    val api = Pipelines.boilerplateShare(docs, "doc_id", "source", "text")
      .orderBy("source").collect().toSeq
    val pinned = Registry.byName("q_text_50_boilerplate").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("prefixClusters == q_dedup_26_prefix_cluster") {
    val api = Pipelines.prefixClusters(docs, "text").collect().toSeq
    val pinned = Registry.byName("q_dedup_26_prefix_cluster").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("ridgePath == q_ml_10_ridge") {
    val feats = li.select(col("l_quantity").cast("long").as("x"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("z"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"))
    val api = Pipelines.ridgePath(feats, "x", "z", "y",
        Seq(0L, 1000000L, 10000000L, 100000000L))
      .orderBy("lam").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val pinned = Registry.byName("q_ml_10_ridge").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(api == pinned)
  }

  test("waterfillBudget == q_pipe_4_waterfill") {
    val src = docs.select(col("source"), expr("n_chars div 5").as("t"))
    val api = Pipelines.waterfillBudget(src, "source", col("t"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val pinned = Registry.byName("q_pipe_4_waterfill").fn(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(api == pinned)
  }

  test("exposureShare == q_ret_9_exposure") {
    graft.expressions.VectorExpressions.register(spark)
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
    val scored = e.filter(col("vec_id") >= 8)
      .crossJoin(broadcast(probes))
      .select(col("pid"), col("label").cast("long").as("label"), col("vec_id"),
        expr("cosine_similarity(embedding, pvec)").as("cos"))
    val api = Pipelines.exposureShare(scored, "pid", "label", "cos", "vec_id")
      .orderBy("label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pinned = Registry.byName("q_ret_9_exposure").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(api == pinned)
  }

  test("kTruss fixpoint: every surviving edge sits in >= k-2 triangles; inside the round-3 trajectory") {
    val li100 = li.filter(col("l_orderkey") % 100 === 0)
    val e = li100.as("a").join(li100.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") + 1 === col("b.l_linenumber") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
    // iterate the declared query's peel round to the fixpoint
    val e0 = e.distinct()
    val b0 = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    var canon = b0.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v")).localCheckpoint()
    var n = canon.count()
    var done = n == 0
    while (!done) {
      val bi = canon.select(col("u").as("src"), col("v").as("dst"))
        .union(canon.select(col("v").as("src"), col("u").as("dst"))).localCheckpoint()
      val next = Pipelines.kTrussPeel(canon, bi, 4).localCheckpoint()
      val n2 = next.count()
      done = n2 == n || n2 == 0
      canon = next
      n = n2
    }
    val core = canon
    val edges = core.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (edges.nonEmpty) {
      val bidir = edges ++ edges.map(x => (x._2, x._1))
      val adj = bidir.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      edges.foreach { case (u, v) => assert((adj(u) & adj(v)).size >= 2, s"($u,$v)") }
    }
    val r3 = Registry.byName("q_graph_16_ktruss").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).last
    assert(edges.size <= r3._2)
  }

  test("pathNgrams(3) == q_stream_34_path_trigrams") {
    val ev = graft.sources.Tables(spark, sf, "events")
    val api = Pipelines.pathNgrams(ev, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val pinned = Registry.byName("q_stream_34_path_trigrams").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(api == pinned)
  }

  test("churnHorizons == q_stream_35_churn_horizons") {
    val ev = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
    val api = Pipelines.churnHorizons(ev, "user_id", expr("us div 86400000000")).collect().head
    val pinned = Registry.byName("q_stream_35_churn_horizons").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("centroidMatrix == q_sim_33_centroid_matrix") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("label").cast("long").as("label"), col("embedding"))
    val api = Pipelines.centroidMatrix(e, "label", "embedding")
      .orderBy("label_a", "label_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pinned = Registry.byName("q_sim_33_centroid_matrix").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(api == pinned)
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] =
      rows.map(t => t._1 -> ((t._2, t._3))).toMap
  }
}
