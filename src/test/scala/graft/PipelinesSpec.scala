package graft

import graft.api.Pipelines
import graft.functions.Num.round
import org.apache.spark.sql.functions._

/** The generic, column-parameterized `graft.api.Pipelines` forms must
  * reproduce the oracle-pinned declared queries exactly on the fixtures
  * — proving the public API and the verified inventory are the same
  * computations.
  */
class PipelinesSpec extends SparkSpec {

  private def docs = graft.sources.Tables(spark, sf, "documents")

  test("minhashCandidates == q_dedup_3_minhash_lsh") {
    val api = Pipelines.minhashCandidates(
      docs.filter(col("doc_id") < 100).withColumnRenamed("doc_id", "id"), "id", "text")
      .orderBy("id_a", "id_b").collect().toSeq
    val pinned = Registry.byName("q_dedup_3_minhash_lsh").fn(spark, sf)
      .collect().toSeq
    assert(api == pinned)
  }

  test("nearDupComponents == q_dedup_7_lsh_cluster") {
    val api = Pipelines.nearDupComponents(docs.filter(col("doc_id") < 100), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val pinned = Registry.byName("q_dedup_7_lsh_cluster").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("deterministicSplit == q_text_13_split") {
    val api = Pipelines.deterministicSplit(docs, "doc_id")
      .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("split", "lang").collect().toSeq
    val pinned = Registry.byName("q_text_13_split").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("chunk == q_text_14_chunk") {
    val api = Pipelines.chunk(docs, "doc_id", "text")
      .orderBy("doc_id", "chunk_id").collect().toSeq
    val pinned = Registry.byName("q_text_14_chunk").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("pack == q_text_15_pack") {
    val api = Pipelines.pack(docs, "doc_id", "text", "lang")
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("pack_tokens"))
      .orderBy("lang", "pack_id").collect().toSeq
    val pinned = Registry.byName("q_text_15_pack").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("heavyHitters == q_agg_18_heavyhitters") {
    val api = Pipelines.heavyHitters(docs, "text")
      .orderBy(col("cnt").desc, col("tok")).collect().toSeq
    val pinned = Registry.byName("q_agg_18_heavyhitters").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("classWeights == q_dq_5_class_weights") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val api = Pipelines.classWeights(e, "label")
      .select(col("label"), col("n"), round(col("weight"), 6).as("weight"))
      .orderBy("label").collect().toSeq
    val pinned = Registry.byName("q_dq_5_class_weights").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("contaminationScreen == q_text_12_contamination") {
    val api = Pipelines.contaminationScreen(
      docs.filter(col("doc_id") >= 5), "doc_id", "text",
      docs.filter(col("doc_id") < 5))
      .select(col("doc_id"), col("n_sh"), col("n_hit"), col("overlap"))
      .orderBy("doc_id").collect().toSeq
    val pinned = Registry.byName("q_text_12_contamination").fn(spark, sf)
      .select("doc_id", "n_sh", "n_hit", "overlap").collect().toSeq
    assert(api == pinned)
  }

  test("cosineKnn == q_sim_2_knn on the label-matched corpus") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val api = Pipelines.cosineKnn(e, "vec_id", "embedding", "label", 0L, 5)
      .select(col("vec_id"), round(col("cos"), 6).as("cosine"))
      .collect().toSeq
    val pinned = Registry.byName("q_sim_2_knn").fn(spark, sf)
      .select("vec_id", "cosine").collect().toSeq
    assert(api == pinned)
  }

  test("ivfIndex assigns every vector to one of k cells") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val idx = Pipelines.ivfIndex(e, "vec_id", "embedding", e.filter(col("vec_id") < 8))
    assert(idx.count() == e.count())
    assert(idx.select("cid").distinct().count() <= 8)
  }

  test("deterministicSplit: ids past the old Long-wrap point still distribute 80/10/10-ish") {
    import spark.implicits._
    // ids ≥ ~3.47e9 used to wrap (id * 2654435761L) negative → 100% 'train'
    val big = spark.range(3470000000L, 3480000000L, 100000L).toDF("id") // 100k-spaced, 100 ids
    val counts = Pipelines.deterministicSplit(big, "id")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "valid", "test"), counts.toString)
    val trainFrac = counts("train").toDouble / counts.values.sum
    assert(trainFrac > 0.6 && trainFrac < 0.95, s"trainFrac=$trainFrac")
  }

  test("deterministicSplit rejects non-numeric id columns loudly") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("id", "x")
    intercept[IllegalArgumentException] {
      Pipelines.deterministicSplit(df, "id")
    }
  }

  test("connectedComponents throws instead of returning unconverged components") {
    import spark.implicits._
    // star contraction halves chains per round, so a 300-node chain
    // cannot be a one-round fixpoint — maxIters=1 must throw loudly
    val nodes = spark.range(0, 300).toDF("id")
    val edges = spark.range(0, 299).select(col("id").as("s"), (col("id") + 1).as("t"))
    intercept[IllegalStateException] {
      Pipelines.connectedComponents(nodes, "id", edges, "s", "t", maxIters = 1)
    }
    // and converges in O(log n) rounds — far under the old O(diameter)
    val ok = Pipelines.connectedComponents(nodes, "id", edges, "s", "t", maxIters = 15)
    assert(ok.select("component").distinct().count() == 1)
    assert(ok.agg(max("component")).first().getLong(0) == 0L)
  }

  test("BPE handles empty and singleton symbol sequences") {
    import spark.implicits._
    val corpus = Seq(Seq.empty[String], Seq("x"), Seq("a", "b"), Seq("a", "b"))
      .toDF("syms")
    val merges = graft.functions.Bpe.train(corpus, 5)
    assert(merges == Seq((1, "a", "b", 2L)))
  }

  test("dedupExact keeps the min id per normalized text") {
    import spark.implicits._
    val df = Seq((3L, "A b"), (1L, "a B "), (2L, "unique")).toDF("id", "text")
    val got = Pipelines.dedupExact(df, "id", "text")
      .select("keep_id", "n_copies")
      .orderBy("keep_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((1L, 2L), (2L, 1L)))
  }

  test("expectations: NULL predicate results count as failures, per-rule verdicts") {
    import spark.implicits._
    val df = Seq((Some(5.0), "a"), (None, "b"), (Some(-1.0), "c")).toDF("v", "k")
    val got = Pipelines.expectations(df, Seq(
      "v_positive" -> (col("v") > 0),        // null v must FAIL this rule
      "k_not_null" -> col("k").isNotNull))
      .orderBy("rule").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    assert(got == List(("k_not_null", 3L, 0L, 1L), ("v_positive", 3L, 2L, 0L)))
  }

  test("expectations: one aggregate pass, and bad rule lists are rejected") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("a", "b")
    val plan = Pipelines.expectations(df, Seq("r1" -> (col("a") > 0), "r2" -> col("b").isNotNull))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), "rules must share one aggregate, not one job each:\n" + plan)
    intercept[IllegalArgumentException] {
      Pipelines.expectations(df, Seq("dup" -> lit(true), "dup" -> lit(false)))
    }
    intercept[IllegalArgumentException] {
      Pipelines.expectations(df, Seq("bad name'; --" -> lit(true)))
    }
    intercept[IllegalArgumentException] {
      Pipelines.expectations(df, Seq.empty)
    }
  }

  test("repetitionScores == q_text_17_repetition") {
    val api = Pipelines.repetitionScores(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_tok"),
        round(col("dup_token_frac"), 6).as("dup_token_frac"),
        round(col("top_bigram_frac"), 6).as("top_bigram_frac"), col("flagged"))
      .orderBy("doc_id").collect().toSeq
    val pinned = Registry.byName("q_text_17_repetition").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("ngramNovelty == q_text_18_novelty") {
    val api = Pipelines.ngramNovelty(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        round(col("novel_frac"), 6).as("novel_frac"))
      .orderBy("doc_id").collect().toSeq
    val pinned = Registry.byName("q_text_18_novelty").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("semDedup == q_sim_13_semdedup") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val api = Pipelines.semDedup(e, "vec_id", "embedding", e.filter(col("vec_id") < 8), 0.35)
      .orderBy("drop_id").collect().toSeq
    val pinned = Registry.byName("q_sim_13_semdedup").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("temperatureMixture == q_text_19_mixture") {
    val api = Pipelines.temperatureMixture(docs, "doc_id", "lang")
      .select("doc_id", "lang", "rn", "quota")
      .orderBy("lang", "rn").collect().toSeq
    val pinned = Registry.byName("q_text_19_mixture").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("topKBy == q_agg_23_topk_native") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .withColumn("l_linenumber", col("l_linenumber").cast("long"))
    val api = Pipelines.topKBy(li, "l_suppkey",
        "l_extendedprice", "l_orderkey", "l_linenumber", 3)
      .select(col("l_suppkey"), col("rnk"), col("ord").as("price"),
        col("tie1").as("okey"), col("tie2").as("lnum"))
      .orderBy("l_suppkey", "rnk").collect().toSeq
    val pinned = Registry.byName("q_agg_23_topk_native").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("standardize == q_sim_14_standardize") {
    val e = graft.sources.Tables(spark, sf, "embeddings")
    val api = Pipelines.standardize(e, "vec_id", "embedding", col("vec_id") < 5)
      .orderBy("vec_id", "dim").collect().toSeq
    val pinned = Registry.byName("q_sim_14_standardize").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("skewProfile == q_dq_15_skew_profile") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val api = Pipelines.skewProfile(li, "l_partkey")
      .select(col("l_partkey"), col("n"),
        round(col("share"), 6).as("share"), round(col("skew_x"), 6).as("skew_x"))
      .orderBy(col("n").desc, col("l_partkey")).collect().toSeq
    val pinned = Registry.byName("q_dq_15_skew_profile").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("ksTest == q_stat_3_ks") {
    val ev = graft.sources.Tables(spark, sf, "events")
    val api = Pipelines.ksTest(ev, "value", "event_type", "click", "view")
      .select(col("n1"), col("n2"), col("d_num"), round(col("d_stat"), 6).as("d_stat"))
      .collect().toSeq
    val pinned = Registry.byName("q_stat_3_ks").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("bm25 == q_text_22_bm25 (rank-exact; scores within 2 quanta)") {
    // The wrapper now carries the declared query's folded literal 2.2
    // (k1+1.0 computed at run time is one ulp away), so the scores
    // agree exactly; the 2e-6 bound is kept as the documented contract.
    val docs = graft.sources.Tables(spark, sf, "documents")
    val api = Pipelines.bm25(docs, "doc_id", "text", Seq("vector", "merge", "filter"))
      .orderBy("rn").collect().toSeq
    val pinned = Registry.byName("q_text_22_bm25").fn(spark, sf).collect().toSeq
    assert(api.map(r => (r.getLong(0), r.getLong(2)))
      == pinned.map(r => (r.getLong(0), r.getLong(2))))
    api.zip(pinned).foreach { case (a, p) =>
      assert(math.abs(a.getDouble(1) - p.getDouble(1)) <= 2e-6)
    }
  }

  test("psi == q_dq_18_psi") {
    val ev = graft.sources.Tables(spark, sf, "events")
    val api = Pipelines.psi(ev, "value", "event_type", "click", "view")
      .select(col("bucket"), col("n_a"), col("n_b"), round(col("psi_part"), 6).as("psi_part"))
      .orderBy("bucket").collect().toSeq
    val pinned = Registry.byName("q_dq_18_psi").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("transitionMatrix == q_stream_13_markov") {
    val ev = graft.sources.Tables(spark, sf, "events")
    val api = Pipelines.transitionMatrix(ev, "user_id", "event_type", Seq("ts", "event_id"))
      .select(col("a"), col("b"), col("c"), col("c_a"), round(col("p"), 6).as("p"))
      .orderBy("a", "b").collect().toSeq
    val pinned = Registry.byName("q_stream_13_markov").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("weightedSample == q_scan_16_weighted_sample's selection") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val api = Pipelines.weightedSample(docs, "doc_id", "n_chars", 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pinned = Registry.byName("q_scan_16_weighted_sample").fn(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(api == pinned)
  }

  test("ndcgAtK == q_ret_1_ndcg") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .withColumn("is_en", col("lang") === "en")
    val api = Pipelines.ndcgAtK(docs, "source", "n_chars", "doc_id", col("is_en"))
      .orderBy("source").collect().toSeq
    val pinned = Registry.byName("q_ret_1_ndcg").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("kfold == q_ml_1_kfold's assignment") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val api = docs.withColumn("fold", Pipelines.kfold("doc_id"))
      .groupBy("fold").count().orderBy("fold")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pinned = Registry.byName("q_ml_1_kfold").fn(spark, sf)
      .select("fold", "n_docs").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(api == pinned)
  }

  test("capPerGroup keeps exactly q_text_29_source_caps' kept counts") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val api = Pipelines.capPerGroup(docs, "source", "n_chars", "doc_id", 15)
      .groupBy("source").count().orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val pinned = Registry.byName("q_text_29_source_caps").fn(spark, sf)
      .select("source", "n_kept").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(api == pinned)
  }

  test("winsorizedMean == q_agg_32_winsorize (mean within float-avg tolerance)") {
    // the wrapper is the declared query's own cents-exact form (the
    // float-averaging fork is gone), so agreement is bit-for-bit
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val api = Pipelines.winsorizedMean(li, "l_returnflag", "l_extendedprice")
      .orderBy("l_returnflag").collect().toSeq
    val pinned = Registry.byName("q_agg_32_winsorize").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("welchTTest == q_stat_8_welch (t/df within float-sum tolerance)") {
    // the wrapper is the declared query's own cents-quantized form (the
    // raw-double fork is gone), so agreement is bit-for-bit
    val ev = graft.sources.Tables(spark, sf, "events")
    val api = Pipelines.welchTTest(ev, "value", "event_type", "purchase", "view")
      .collect().toSeq
    val pinned = Registry.byName("q_stat_8_welch").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("lastTouchAttribution == q_stream_17_attribution") {
    val ev = graft.sources.Tables(spark, sf, "events")
    val api = Pipelines.lastTouchAttribution(ev, "user_id", "ts", "event_type",
        "purchase", "event_id")
      .orderBy("channel").collect().toSeq
    val pinned = Registry.byName("q_stream_17_attribution").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("dauWau == q_stream_20_dau_wau") {
    // renamed columns and one row per event: dauWau dedups (uid, d) itself
    val ev = graft.sources.Tables(spark, sf, "events")
      .select(col("user_id").as("uid"), expr("unix_micros(ts) div 86400000000").as("d"))
    val api = Pipelines.dauWau(ev, "uid", "d").orderBy("day").collect().toSeq
    val pinned = Registry.byName("q_stream_20_dau_wau").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("bollingerBands == q_win_12_bollinger") {
    val daily = graft.sources.Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val api = Pipelines.bollingerBands(daily, "day", "cents")
      .orderBy("day").collect().toSeq
    val pinned = Registry.byName("q_win_12_bollinger").fn(spark, sf).collect().toSeq
    assert(api.map(_.toSeq.drop(1)) == pinned.map(_.toSeq.drop(1)))
    assert(api.map(_.getLong(0)) == pinned.map(_.getLong(0)))
  }

  test("maxDrawdown == q_win_13_drawdown") {
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val daily = graft.sources.Tables(spark, sf, "events")
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg((sum(when(col("event_type") === "purchase", cents).otherwise(0L))
        - sum(when(col("event_type") === "error", cents).otherwise(0L))).as("net"))
    val api = Pipelines.maxDrawdown(daily, "day", "net").collect().toSeq
    val pinned = Registry.byName("q_win_13_drawdown").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("hhi == q_agg_34_hhi") {
    val in = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
          .cast("long").as("rev"))
      .join(broadcast(graft.sources.Tables(spark, sf, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(graft.sources.Tables(spark, sf, "nation")
        .select(col("n_nationkey"), col("n_name"))), col("s_nationkey") === col("n_nationkey"))
    val api = Pipelines.hhi(in, "n_name", "l_suppkey", "rev")
      .orderBy("n_name").collect().toSeq
    val pinned = Registry.byName("q_agg_34_hhi").fn(spark, sf).collect().toSeq
    assert(api.map(_.toSeq) == pinned.map(_.toSeq))
  }

  test("lorenzCurve == q_agg_35_lorenz") {
    val e = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val api = Pipelines.lorenzCurve(e, "o_orderkey", "cents")
      .orderBy("decile").collect().toSeq
    val pinned = Registry.byName("q_agg_35_lorenz").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("effectSize == q_stat_19_cohen_d") {
    val e = graft.sources.Tables(spark, sf, "events")
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("x"))
    val api = Pipelines.effectSize(e, "x", "event_type", "purchase", "click")
      .collect().toSeq
    val pinned = Registry.byName("q_stat_19_cohen_d").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }

  test("centroidShift == q_sim_20_centroid_shift") {
    val em = graft.sources.Tables(spark, sf, "embeddings")
    val api = Pipelines.centroidShift(em, "vec_id", "embedding", "label")
      .orderBy("label").collect().toSeq
    val pinned = Registry.byName("q_sim_20_centroid_shift").fn(spark, sf).collect().toSeq
    assert(api == pinned)
  }
}
