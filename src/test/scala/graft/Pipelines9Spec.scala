package graft

import graft.api.Pipelines
import org.apache.spark.sql.functions._

/** Round-7 Pipelines wrappers pinned EXACTLY against their declared
  * oracle-checked queries on sf0.001.
  */
class Pipelines9Spec extends SparkSpec {

  private def customers = graft.sources.Tables(spark, sf, "customer")
  private def documents = graft.sources.Tables(spark, sf, "documents")

  test("kAnonymity == q_priv_1_kanon") {
    val api = Pipelines.kAnonymity(customers, Seq("c_nationkey", "c_mktsegment"))
      .collect().head
    val pinned = Registry.byName("q_priv_1_kanon").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("lDiversity == q_priv_2_ldiversity") {
    val api = Pipelines.lDiversity(customers, Seq("c_nationkey", "c_mktsegment"),
      floor(col("c_acctbal") / 1000).cast("long")).collect().head
    val pinned = Registry.byName("q_priv_2_ldiversity").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("dupNgramShare(5) == q_text_55_dup_ngram_share") {
    val api = Pipelines.dupNgramShare(documents, "source", "text", 5)
      .orderBy("source").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_text_55_dup_ngram_share").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("qualityRuleMatrix == q_text_57_gopher_rules") {
    val api = Pipelines.qualityRuleMatrix(documents, "source", "text")
      .orderBy("source").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_text_57_gopher_rules").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("cohenKappa == q_stat_33_kappa") {
    val tk = split(col("text"), " ")
    val flags = documents.select(
      when(size(tk) < 40, 1L).otherwise(0L).as("a"),
      when(size(array_distinct(tk)) < 22, 1L).otherwise(0L).as("b"))
    val api = Pipelines.cohenKappa(flags, "a", "b").collect().head
    val pinned = Registry.byName("q_stat_33_kappa").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("fanoFactor == q_stream_38_fano") {
    val ev = graft.sources.Tables(spark, sf, "events")
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hour_id"))
    val api = Pipelines.fanoFactor(ev, "event_type", col("hour_id"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val pinned = Registry.byName("q_stream_38_fano").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(api == pinned)
  }

  test("degreeGini == q_graph_23_degree_gini") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val a = li.select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_suppkey").as("src"))
    val b = li.select(col("l_orderkey").as("ok2"), col("l_linenumber").as("ln2"),
      col("l_suppkey").as("dst"))
    val e = a.join(b, col("ok") === col("ok2") && (col("ln") + 1) === col("ln2"))
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct()
    val bidir = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val api = Pipelines.degreeGini(bidir, "src").collect().head
    val pinned = Registry.byName("q_graph_23_degree_gini").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("shardBalance == q_pipe_9_shard_balance") {
    val api = Pipelines.shardBalance(
      documents.select(col("doc_id"), expr("n_chars div 5").as("toks")),
      "doc_id", col("toks")).collect().head
    val pinned = Registry.byName("q_pipe_9_shard_balance").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("logitStep == q_ml_12_logit_step") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_quantity").cast("long").as("x"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val api = Pipelines.logitStep(li, col("x"), col("y") === 1).collect().head
    val pinned = Registry.byName("q_ml_12_logit_step").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("bitwidthSweep == q_sim_40_bitwidth_sweep") {
    val api = Pipelines.bitwidthSweep(
      graft.sources.Tables(spark, sf, "embeddings"), "embedding")
      .orderBy("bits").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_sim_40_bitwidth_sweep").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("twoNNDimension == q_sim_39_twonn_dim") {
    val sample = graft.sources.Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val api = Pipelines.twoNNDimension(sample, "vec_id", "embedding").collect().head
    val pinned = Registry.byName("q_sim_39_twonn_dim").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }
  test("richClub == q_graph_21_rich_club") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .filter(col("l_orderkey") % 20 === 0)
    val a = li.select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_suppkey").as("src"))
    val b = li.select(col("l_orderkey").as("ok2"), col("l_linenumber").as("ln2"),
      col("l_suppkey").as("dst"))
    val e = a.join(b, col("ok") === col("ok2") && (col("ln") + 1) === col("ln2"))
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct()
    val bidir = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val api = Pipelines.richClub(bidir, "src", "dst").collect().head
    val pinned = Registry.byName("q_graph_21_rich_club").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("yoyGrowth == q_time_23_yoy") {
    val m = graft.sources.Tables(spark, sf, "orders")
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
    val api = Pipelines.yoyGrowth(m, "ym", "cents").orderBy("ym")
      .collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_time_23_yoy").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("ulcerIndex == q_win_28_ulcer") {
    val dly = graft.sources.Tables(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
    val api = Pipelines.ulcerIndex(dly, "y", "day", "cents").orderBy("y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val pinned = Registry.byName("q_win_28_ulcer").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(api == pinned)
  }

  test("decontaminationCost == q_pipe_10_decontam_cost") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val api = Pipelines.decontaminationCost(
      docs.filter(col("doc_id") >= 5)
        .select(col("doc_id"), col("source"), col("text"), expr("n_chars div 5").as("toks")),
      "doc_id", "source", "text", col("toks"),
      docs.filter(col("doc_id") < 5))
      .orderBy("source").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_pipe_10_decontam_cost").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("suppressionCost == q_priv_5_suppression_cost") {
    val api = Pipelines.suppressionCost(
      graft.sources.Tables(spark, sf, "customer"), Seq("c_nationkey", "c_mktsegment"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_priv_5_suppression_cost").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }
}

