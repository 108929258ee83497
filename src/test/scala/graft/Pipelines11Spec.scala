package graft

import graft.api.Pipelines
import org.apache.spark.sql.functions._

/** Round-7o/7r/7s/7u Pipelines wrappers pinned EXACTLY against their
  * declared oracle-checked queries on sf0.001.
  */
class Pipelines11Spec extends SparkSpec {

  private def orders = graft.sources.Tables(spark, sf, "orders")
  private def documents = graft.sources.Tables(spark, sf, "documents")

  private def monthly =
    orders.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).cast("long").as("x"))

  test("pinballEval == q_ml_13_pinball") {
    val withSeg = orders
      .join(graft.sources.Tables(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("t2"),
        col("o_orderkey"))
    val api = Pipelines.pinballEval(withSeg, "seg", "t2", "o_orderkey")
      .orderBy("seg").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_ml_13_pinball").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("mase == q_ml_14_mase") {
    val api = Pipelines.mase(monthly, "ym", "x").collect().head
    val pinned = Registry.byName("q_ml_14_mase").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("hodgesLehmann == q_stat_44_hodges_lehmann") {
    val series = orders.groupBy(col("o_orderpriority").as("pr"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("x"))
    val api = Pipelines.hodgesLehmann(series, "pr", "ym", "x")
      .orderBy("pr").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_stat_44_hodges_lehmann").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("kendallTauB == q_stat_46_kendall_tau_b") {
    val series = orders.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("x"),
        (sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          / count(lit(1))).cast("long").as("y"))
    val api = Pipelines.kendallTauB(series, "ym", "x", "y").collect().head
    val pinned = Registry.byName("q_stat_46_kendall_tau_b").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("brierDecomposition == q_ml_15_brier") {
    val f = orders.select(
      (floor(col("o_totalprice") * 100 + 0.5).cast("long") % 1000).as("pm"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val api = Pipelines.brierDecomposition(f, "pm", "y").collect().head
    val pinned = Registry.byName("q_ml_15_brier").fn(spark, sf).collect().head
    assert(api.toSeq == pinned.toSeq)
  }

  test("sqrtQuota == q_pipe_12_sqrt_quota") {
    val api = Pipelines.sqrtQuota(documents, "lang")
      .orderBy("lang").collect().map(_.toSeq).toSeq
    val pinned = Registry.byName("q_pipe_12_sqrt_quota").fn(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(api == pinned)
  }

  test("pseudonymize matches q_priv_10's token construction") {
    val tok = graft.sources.Tables(spark, sf, "customer")
      .select(Pipelines.pseudonymize(col("c_custkey"), "graft2026").as("t"))
    val direct = graft.sources.Tables(spark, sf, "customer")
      .select(sha2(concat(lit("graft2026|"), col("c_custkey").cast("string")), 256).as("t"))
    assert(tok.collect().map(_.getString(0)).sorted.toSeq ==
      direct.collect().map(_.getString(0)).sorted.toSeq)
  }

  test("kendallTauB matches the canonical scipy/R value under duplicate (x,y) pairs") {
    // x=[1,1,2,3], y=[1,1,2,2]: nc=4, nd=0, tx=1 (ALL x-tied pairs,
    // both-tied included), ty=2 → τb = 4/√(5·4) = 0.894427 (scipy
    // kendalltau gives 0.8944271909…; the pre-r8 x-tie-only counting
    // yielded tx=0 and a wrong τb)
    import spark.implicits._
    val series = Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 2L), (4L, 3L, 2L))
      .toDF("t", "x", "y")
    val r = Pipelines.kendallTauB(series, "t", "x", "y").collect().head
    assert(r.getLong(2) == 1L, "tx counts ALL x-tied pairs")
    assert(r.getLong(3) == 2L, "ty counts ALL y-tied pairs")
    assert(r.getDouble(5) == 0.894427, s"tau_b = ${r.getDouble(5)}")
  }

  test("hodgesLehmann averages the two middle Walsh sums for even counts") {
    // x=[1,2,3,10] → 10 Walsh averages, sorted middles 2.5 and 3 →
    // HL = 2.75 (the lower-median form the r7 ADVICE flagged gave 2.5)
    import spark.implicits._
    val series = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 10L))
      .toDF("grp", "t", "x")
    val r = Pipelines.hodgesLehmann(series, "grp", "t", "x").collect().head
    assert(r.getLong(2) == 10L)
    assert(r.getDouble(1) == 2.75, s"hl = ${r.getDouble(1)}")
  }

  test("brierDecomposition emits the true Brier score plus the binning residual") {
    // two forecasts in ONE bin (pm=100 y=0, pm=180 y=1): true Brier =
    // (0.1² + 0.82²)/2 = 0.3412; the binned identity rel−res+unc gives
    // pbar=0.14, ybar=gbar=0.5 → 0.1296−0+0.25 = 0.3796 ≠ true
    import spark.implicits._
    val f = Seq((100L, 0L), (180L, 1L)).toDF("pm", "y")
    val r = Pipelines.brierDecomposition(f, "pm", "y").collect().head
    assert(r.getDouble(4) == 0.3412, s"brier = ${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - (0.3412 - 0.3796)) < 1e-9,
      s"resid = ${r.getDouble(5)}")
  }

  test("canonicalizeUrl preserves scheme and strips utm params anywhere") {
    import spark.implicits._
    val in = Seq(
      "http://www.example.com/a?utm_source=feed",
      "http://example.com/a",
      "https://example.com/a?utm_source=feed&page=2",
      "https://example.com/a?page=2&utm_campaign=x",
      "https://example.com/a?utm_source=f&utm_medium=m").toDF("u")
    val got = in.select(Pipelines.canonicalizeUrl(col("u")).as("c"))
      .collect().map(_.getString(0))
    assert(got(0) == "http://example.com/a", got(0))
    assert(got(1) == "http://example.com/a", got(1))
    assert(got(2) == "https://example.com/a?page=2", got(2))
    assert(got(3) == "https://example.com/a?page=2", got(3))
    assert(got(4) == "https://example.com/a", got(4))
  }

  test("canonicalizeUrl collapses the q_dedup_28 variants") {
    val pid = (col("doc_id") % 50).cast("long")
    val base = concat(lit("https://www.example.com/p/"), pid.cast("string"))
    val url = when(col("doc_id") % 4 === 0, base)
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://WWW.EXAMPLE.COM/p/"), pid.cast("string")))
      .when(col("doc_id") % 4 === 2, concat(base, lit("?utm_source=feed")))
      .otherwise(concat(base, lit("/")))
    val got = documents.select(pid.as("pid"),
        Pipelines.canonicalizeUrl(url).as("canon"))
      .groupBy("pid").agg(countDistinct(col("canon")).as("n"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getLong(1) == 1L, s"pid ${r.getLong(0)} did not collapse"))
  }
}
