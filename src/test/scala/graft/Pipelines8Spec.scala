package graft

import graft.api.Pipelines
import org.apache.spark.sql.functions._

/** Round-6 Pipelines wrappers pinned EXACTLY against their declared
  * oracle-checked queries on sf0.001.
  */
class Pipelines8Spec extends SparkSpec {

  private def sampledEdges = {
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
    val a = li.select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_suppkey").as("src"))
    val b = li.select(col("l_orderkey").as("ok2"), col("l_linenumber").as("ln2"),
      col("l_suppkey").as("dst"))
    val e = a.join(b, col("ok") === col("ok2") && (col("ln") + 1) === col("ln2"))
      .filter(col("src") =!= col("dst")).select("src", "dst").distinct()
    // the wrappers take the symmetrized distinct list
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  test("knnGraph + hubnessHistogram == q_sim_35_hubness") {
    val v = graft.sources.Tables(spark, sf, "embeddings")
      .filter(col("vec_id") % 4 === 0).select(col("vec_id"), col("embedding"))
    val api = Pipelines.hubnessHistogram(v, "vec_id",
        Pipelines.knnGraph(v, "vec_id", "embedding", 5), "dst")
      .orderBy("indeg").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pinned = Registry.byName("q_sim_35_hubness").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(api == pinned)
  }

  test("anisotropy == q_sim_38_anisotropy") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val api = Pipelines.anisotropy(e, "label", "embedding")
      .orderBy("label").collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2))).toSeq
    val pinned = Registry.byName("q_sim_38_anisotropy").fn(spark, sf).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2))).toSeq
    assert(api == pinned)
  }

  test("labelPropagation(3) community sizes == q_graph_18_labelprop") {
    val api = Pipelines.labelPropagation(sampledEdges, "src", "dst", 3)
      .groupBy("lab").agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("lab")).limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pinned = Registry.byName("q_graph_18_labelprop").fn(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(api == pinned)
  }

  test("adamicAdar top-20 == q_graph_19_adamic_adar") {
    val api = Pipelines.adamicAdar(sampledEdges, "src", "dst")
      .orderBy(col("score6").desc, col("a"), col("b")).limit(20)
      .select(col("a"), col("b"), col("n_common"), (col("score6").cast("double") / 1000000).as("score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val pinned = Registry.byName("q_graph_19_adamic_adar").fn(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(api == pinned)
  }

  test("modularity == q_graph_20_modularity; contributions sum to a sane Q") {
    val com = graft.sources.Tables(spark, sf, "supplier")
      .select(col("s_suppkey").as("node"), col("s_nationkey").as("c"))
    val api = Pipelines.modularity(sampledEdges, "src", "dst", com)
      .orderBy("community").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val pinned = Registry.byName("q_graph_20_modularity").fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(api == pinned)
    val q = api.map(_._4).sum
    assert(q > -1.0 && q < 1.0)
  }

  test("splitLeakage == q_pipe_7_split_leakage") {
    val keyed = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))).as("set_key"))
    val api = Pipelines.splitLeakage(keyed, "doc_id", col("set_key"), "lang")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val pinned = Registry.byName("q_pipe_7_split_leakage").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(api == pinned)
  }

  test("ctxBoundarySweep == q_pipe_8_ctx_boundary") {
    val toks = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
    val api = Pipelines.ctxBoundarySweep(toks, "doc_id", "tok", Seq(128L, 256L, 512L))
      .orderBy("ctx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq
    val pinned = Registry.byName("q_pipe_8_ctx_boundary").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq
    assert(api == pinned)
  }

  test("truncationLoss == q_text_52_truncation") {
    val toks = graft.sources.Tables(spark, sf, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("tok"))
    val api = Pipelines.truncationLoss(toks, "tok", Seq(16L, 32L, 64L))
      .orderBy("cap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val pinned = Registry.byName("q_text_52_truncation").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(api == pinned)
  }
}
