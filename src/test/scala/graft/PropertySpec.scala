package graft

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws over the engine's primitives (SURVEY §5.3), sampled
  * with scalacheck Gens (deterministic seeds; plain scalatest asserts —
  * the scalatest/scalacheck bridge artifact is not on the offline
  * classpath).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(6).mkString)
  private val textGen = Gen.nonEmptyListOf(word).map(_.take(12).mkString(" "))
  private val vecGen = Gen.listOfN(8, Gen.chooseNum(-5f, 5f)).map(_.toArray)
    .suchThat(v => v.exists(x => math.abs(x) > 0.01f))

  test("dedup is idempotent: distinct∘distinct == distinct") {
    for (xs <- samples(Gen.nonEmptyListOf(Gen.chooseNum(0, 5)), 5)) {
      val df = xs.toDF("x")
      val once = df.distinct()
      assert(once.distinct().count() == once.count())
      assert(once.except(once).count() == 0)
    }
  }

  test("minhash signature is permutation- and duplication-invariant") {
    val rnd = new scala.util.Random(7)
    for (t <- samples(textGen, 5)) {
      val toks = t.split(" ").toSeq
      val shuffled = (rnd.shuffle(toks) ++ toks.headOption).mkString(" ")
      val sigs = Seq((1L, t), (2L, shuffled)).toDF("id", "text")
        .orderBy("id")
        .select(TextFunctions.minhashSignature($"text", 8)).collect()
      assert(sigs(0).getSeq[Long](0) == sigs(1).getSeq[Long](0))
    }
  }

  test("cosine(v, v) == 1 and cosine is symmetric") {
    for (Seq(a, b) <- samples(Gen.listOfN(2, vecGen), 5)) {
      val r = Seq((a, b)).toDF("a", "b").select(
        VectorFunctions.cosine($"a", $"a").as("self"),
        VectorFunctions.cosine($"a", $"b").as("ab"),
        VectorFunctions.cosine($"b", $"a").as("ba")).collect().head
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12)
    }
  }

  test("rollup row count == detail groups + level-1 groups + 1") {
    val df = graft.sources.Tables(spark, sf, "lineitem")
    val detail = df.select("l_returnflag", "l_linestatus").distinct().count()
    val level1 = df.select("l_returnflag").distinct().count()
    val rollupRows = Registry.byName("q_agg_5_rollup").fn(spark, sf).count()
    assert(rollupRows == detail + level1 + 1)
  }

  test("running window sum is monotone and its max equals the group total") {
    // o_totalprice > 0 ⇒ the running sum's max per customer IS its final
    // value, which must equal the directly-aggregated rounded total.
    val running = Registry.byName("q_win_2_running").fn(spark, sf)
      .groupBy("o_custkey").agg(max($"running_spend").as("final_run"))
    val direct = graft.sources.Tables(spark, sf, "orders")
      .groupBy($"o_custkey")
      .agg(graft.functions.Num.round(sum($"o_totalprice"), 2).as("total"))
    val bad = running.join(direct, "o_custkey")
      .filter(abs($"final_run" - $"total") > 1e-9)
    assert(bad.count() == 0)
  }

  test("k-means final assignment is the argmin over the final centroids") {
    // reconstruct the final centroids from the assignment itself and
    // check no vector is closer to a foreign centroid than its own
    val assigned = Registry.byName("q_sim_7_kmeans").fn(spark, sf)
      .select($"vec_id", $"cluster", $"dist")
    val e = graft.sources.Tables(spark, sf, "embeddings")
      .filter($"vec_id" < 200)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
    // the centroids the query assigns against: one Lloyd update from the
    // deterministic init (NOT centroids recomputed from the final
    // assignment — Lloyd hasn't converged after one round)
    val init = e.filter($"vec_id" < 4).select($"vec_id".as("cid"), $"v".as("cvec"))
    val cents = graft.functions.KMeans.update(graft.functions.KMeans.assign(e, init))
    val worse = e.crossJoin(broadcast(cents))
      .select($"vec_id", $"cid",
        sqrt(VectorFunctions.sqDist($"v", $"cvec")).as("d"))
      .join(assigned, "vec_id")
      .filter($"d" < $"dist" - 2e-6) // strictly closer (beyond dist's 6dp rounding quantum)
    assert(worse.count() == 0)
  }

  test("LSH clustering: every candidate pair lands in one component; non-candidates are singletons") {
    val comp = Registry.byName("q_dedup_7_lsh_cluster").fn(spark, sf)
      .select($"doc_id", $"component", $"csize").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = Registry.byName("q_dedup_3_minhash_lsh").fn(spark, sf)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    for ((a, b) <- pairs)
      assert(comp(a)._1 == comp(b)._1, s"pair ($a,$b) split across components")
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    for ((doc, (c, size)) <- comp if !inPairs.contains(doc)) {
      assert(c == doc && size == 1L, s"doc $doc has no candidate edge but csize=$size")
    }
  }

  test("PQ: codebook vectors encode to their own codeword in every subspace") {
    // vectors 0..3 ARE the codebook → their per-subspace nearest codeword
    // is themselves (distance 0), so their code must be their own id 8×.
    val sub = graft.sources.Tables(spark, sf, "embeddings")
      .select($"vec_id", posexplode($"embedding"))
      .select($"vec_id", ($"pos" / 8).cast("long").as("ss"),
        ($"pos" % 8).as("spos"), $"col".cast("double").as("val"))
    val cb = sub.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"ss".as("b_ss"), $"spos".as("b_spos"), $"val".as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "ss").orderBy($"d2", $"cid")
    val code = sub.join(broadcast(cb), $"ss" === $"b_ss" && $"spos" === $"b_spos")
      .groupBy("vec_id", "ss", "cid")
      .agg(sum(($"val" - $"c") * ($"val" - $"c")).as("d2"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    val selfMiscoded = code.filter($"vec_id" < 4 && $"cid" =!= $"vec_id")
    assert(selfMiscoded.count() == 0)
    // and every vector gets exactly 8 codes
    val badArity = code.groupBy("vec_id").count().filter($"count" =!= 8)
    assert(badArity.count() == 0)
  }

  test("ndcgAtK laws: bounds, and ndcg == 1 exactly when no irrelevant row outranks a relevant one") {
    val relGen = Gen.listOfN(12, Gen.oneOf(true, false))
    for ((rels, gi) <- samples(relGen, 6).zipWithIndex) {
      // scores descending by construction: rank i+1 has score -i
      val rows = rels.zipWithIndex.map { case (r, i) => (1L, -i.toDouble, i.toLong, r) }
      val got = graft.api.Pipelines.ndcgAtK(
        rows.toDF("g", "score", "id", "rel"), "g", "score", "id", $"rel")
        .collect().head
      val ndcg = got.getDouble(3)
      assert(ndcg >= 0.0 && ndcg <= 1.0, s"sample $gi: ndcg $ndcg out of bounds")
      val k = math.min(10, rels.length)
      val topK = rels.take(k)
      val nRel = rels.count(identity)
      // perfect iff the top-min(10,n_rel) positions are all relevant
      val perfect = nRel > 0 && topK.take(math.min(k, nRel)).forall(identity)
      if (perfect) assert(ndcg == 1.0, s"sample $gi: expected 1.0, got $ndcg for $rels")
      else if (nRel > 0) assert(ndcg < 1.0, s"sample $gi: expected <1, got $ndcg for $rels")
      else assert(ndcg == 0.0)
    }
  }

  test("kfold partitions every id into [0,k) and is stable under union") {
    for (ids <- samples(Gen.nonEmptyListOf(Gen.chooseNum(0L, 100000L)).map(_.distinct), 5)) {
      val df = ids.toDF("id")
      val folds = df.withColumn("fold", graft.api.Pipelines.kfold("id"))
      assert(folds.filter($"fold" < 0 || $"fold" >= 5).count() == 0)
      assert(folds.count() == ids.length)
      // growing the corpus never moves an existing id's fold
      val bigger = (ids ++ Seq(999999L)).distinct.toDF("id")
        .withColumn("fold", graft.api.Pipelines.kfold("id"))
      val before = folds.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      bigger.collect().foreach(r =>
        before.get(r.getLong(0)).foreach(f => assert(f == r.getLong(1))))
    }
  }

  test("capPerGroup: at most cap rows per group, and exactly the quality-top ones") {
    val rowGen = Gen.listOfN(20, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 50)))
    for ((rows, gi) <- samples(rowGen, 5).zipWithIndex) {
      val df = rows.zipWithIndex.map { case ((g, q), i) => (g, q.toLong, i.toLong) }
        .toDF("g", "q", "id")
      val kept = graft.api.Pipelines.capPerGroup(df, "g", "q", "id", 3)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      kept.groupBy(_._1).foreach { case (g, ks) =>
        assert(ks.length <= 3)
        val all = rows.zipWithIndex.collect { case ((`g`, q), i) => (q.toLong, i.toLong) }
        val expect = all.sortBy(t => (-t._1, t._2)).take(3).map(_._2).toSet
        assert(ks.map(_._3).toSet == expect, s"sample $gi group $g")
      }
    }
  }

  test("winsorizedMean lies within [p_lo, p_hi] and is outlier-resistant") {
    for (xs <- samples(Gen.nonEmptyListOf(Gen.chooseNum(1, 100)).map(_.take(30)), 5)
         if xs.length >= 5) {
      val base = xs.map(_.toDouble)
      val df = (base :+ 1e9).zipWithIndex.map { case (v, i) => ("g", v, i) }.toDF("g", "v", "i")
      val r = graft.api.Pipelines.winsorizedMean(df, "g", "v").collect().head
      val m = r.getDouble(2)
      val s = (base :+ 1e9).sorted
      def pct(q: Double): Double = {
        val pos = q * (s.length - 1); val lo = pos.toInt
        if (lo + 1 < s.length) s(lo) + (pos - lo) * (s(lo + 1) - s(lo)) else s(lo)
      }
      assert(m >= pct(0.05) - 1e-9 && m <= pct(0.95) + 1e-9)
      // a 1e9 outlier moves the winsorized mean by at most the clamp value's share
      assert(m <= pct(0.95))
    }
  }
}
