package graft

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Hand-computed expectations for the non-oracle queries and the edge
  * semantics the DuckDB compare cannot see (SURVEY §5.2).
  */
class OperatorUnitSpec extends SparkSpec {
  import spark.implicits._

  test("anti join emits non-matching rows on a synthetic frame (q_join_7 non-vacuity)") {
    // q_join_7_anti is legitimately EMPTY on the fixtures (every
    // customer has orders at every SF), so its oracle hash proves
    // nothing about the emission branch — this synthetic frame proves
    // the exact left_anti shape the query uses emits the right rows
    // (tools/vacuity_lint.py waiver evidence).
    val cust = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("c_custkey", "c_name")
    val ords = Seq((10L, 1L), (11L, 3L)).toDF("o_orderkey", "o_custkey")
    val got = cust.join(ords, cust("c_custkey") === ords("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "b"), (4L, "d")))
  }

  test("csv roundtrip preserves schema and content") {
    val out = Registry.byName("q_scan_3_csv_roundtrip").fn(spark, sf)
    val src = graft.sources.Tables(spark, sf, "region").orderBy("r_regionkey")
    assert(out.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    assert(out.collect().toSeq == src.collect().toSeq)
  }

  test("json roundtrip preserves content") {
    val out = Registry.byName("q_scan_4_jsonlines").fn(spark, sf)
    val src = graft.sources.Tables(spark, sf, "nation").orderBy("n_nationkey")
    assert(out.collect().toSeq == src.collect().toSeq)
  }

  test("approx_count_distinct within 5% of exact") {
    val r = Registry.byName("q_agg_4_approx").fn(spark, sf).collect().head
    val (exact, ok) = (r.getLong(0), r.getLong(1))
    assert(exact > 0 && ok == 1L, s"exact=$exact approx_ok=$ok")
    // the band itself, re-derived outside the query's own verdict
    val o = graft.sources.Tables(spark, sf, "orders")
    val approx = o.agg(approx_count_distinct(col("o_custkey"), 0.01)).first().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("map ops: all five event types, click count correct") {
    val r = Registry.byName("q_map_1_basic").fn(spark, sf).collect().head
    assert(r.getAs[String]("keys_sorted") == "click,error,purchase,signup,view")
    val clicks = graft.sources.Tables(spark, sf, "events")
      .filter(col("event_type") === "click").count()
    assert(r.getAs[Long]("n_click") == clicks)
    assert(r.getAs[Long]("n_types") == 5L)
  }

  test("multimodal decode features: hand-computed 4x4 pool for one doc") {
    val doc = graft.sources.Tables(spark, sf, "documents")
      .filter(col("doc_id") === 0).select("text").as[String].head()
    val bytes = doc.getBytes("UTF-8")
    // same raster fill as the query, pooled by hand without any codec
    def px(x: Int, y: Int): Int = bytes((y * 16 + x) % bytes.length) & 0xFF
    def pool(b: Int): Double = {
      val (bx, by) = (b % 4, b / 4)
      (for (dy <- 0 until 4; dx <- 0 until 4) yield px(bx * 4 + dx, by * 4 + dy))
        .sum.toDouble / 16.0
    }
    val norm = math.sqrt((0 until 16).map(b => pool(b) * pool(b)).sum)
    val row = Registry.byName("q_mm_2_decode_features").fn(spark, sf)
      .filter(col("doc_id") === 0).collect().head
    assert(row.getAs[Double]("pool_first") == math.floor(pool(0) * 1e6 + 0.5) / 1e6)
    assert(row.getAs[Double]("pool_last") == math.floor(pool(15) * 1e6 + 0.5) / 1e6)
    assert(row.getAs[Double]("feat_norm") == math.floor(norm * 1e6 + 0.5) / 1e6)
  }

  test("charHash matches hand-computed polynomial fold") {
    // h("ab") = ((0*31+97)%P)*31 + 98 = 3105
    val got = spark.range(1).select(TextFunctions.charHash(lit("ab"))).as[Long].head()
    assert(got == 3105L)
  }

  test("simhash identical for identical token sets, regardless of order/dups") {
    val df = Seq((1L, "spark row data"), (2L, "data row spark spark"), (3L, "data row other"))
      .toDF("id", "text")
    val hs = df.select($"id", TextFunctions.simhash32($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(3L))
  }

  test("native simhash30 equals the declarative nested-aggregate form on the fixture corpus") {
    // the r9 native expression must be the SAME function as the
    // original higher-order formulation the DuckDB oracle mirrors —
    // compare them over every fixture document plus adversarial shapes
    // non-ASCII rows pin the full-Unicode contract (r10, ADVICE/verdict
    // item 7): the native walk is by code point, and the declarative
    // mirror agrees because Spark's split(c,"") groups by code point
    // (even astral-plane emoji) and ascii() returns the full code
    // point, not a byte — measured, now enforced: Latin-1, CJK, an
    // astral-plane emoji, and a combining sequence must all match.
    val docs = graft.sources.Tables(spark, sf, "documents").select(col("text"))
      .union(Seq("", " ", "a  b", "x x x", "trailing ",
        "café latte", "日本語 テスト", "a😀b emoji", "é combining").toDF("text"))
    val diff = docs.select(
        TextFunctions.simhash32(col("text")).as("nat"),
        graft.functions.TextTwins.simhash32Declarative(col("text")).as("dec"))
      .filter(col("nat") =!= col("dec")).count()
    assert(diff == 0L)
  }

  test("native minhash_sig equals the declarative nested-HOF form on the fixture corpus") {
    // the r14 native expression must be the SAME function as the
    // original higher-order formulation the DuckDB oracle mirrors —
    // same contract and adversarial-row set as the simhash30 pin
    // above (all arithmetic is Long mod P, so equality is exact)
    val docs = graft.sources.Tables(spark, sf, "documents").select(col("text"))
      .union(Seq("", " ", "a  b", "x x x", "trailing ",
        "café latte", "日本語 テスト", "a😀b emoji", "é combining").toDF("text"))
    val diff = docs.select(
        TextFunctions.minhashSignature(col("text"), 16).as("nat"),
        graft.functions.TextTwins.minhashSignatureDeclarative(col("text"), 16).as("dec"))
      .filter(col("nat") =!= col("dec")).count()
    assert(diff == 0L)
    // and at a non-default width
    val diff4 = docs.select(
        TextFunctions.minhashSignature(col("text"), 4).as("nat"),
        graft.functions.TextTwins.minhashSignatureDeclarative(col("text"), 4).as("dec"))
      .filter(col("nat") =!= col("dec")).count()
    assert(diff4 == 0L)
    // shingle form, incl. the <n-token rows whose signature is k NULLs
    // (=!= is null-safe FALSE on null pairs, so compare via the
    // null-safe equality negation)
    val diffSh = docs.select(
        TextFunctions.shingleMinhashSignature(col("text"), 3, 8).as("nat"),
        graft.functions.TextTwins.shingleMinhashSignatureDeclarative(col("text"), 3, 8).as("dec"))
      .filter(!(col("nat") <=> col("dec"))).count()
    assert(diffSh == 0L)
  }

  test("native token_shingles equals the declarative HOF form on the fixture corpus") {
    // same contract-pin pattern as simhash30/minhash_sig: the native
    // loop must be the SAME function as the HOF the oracle mirrors —
    // distinct space-joined windows in first-occurrence order, empty
    // (not null) below n tokens and for null text
    val docs = graft.sources.Tables(spark, sf, "documents").select(col("text"))
      .union(Seq("", " ", "a b", "a b c", "a b c d", "x x x x", "a  b  c",
        "café latte 日本語 テスト", "a😀b c d").toDF("text"))
      .union(Seq(Option.empty[String]).toDF("text"))
    for (n <- Seq(2, 3)) {
      val diff = docs.select(
          TextFunctions.tokenShingles(col("text"), n).as("nat"),
          graft.functions.TextTwins.tokenShinglesDeclarative(col("text"), n).as("dec"))
        .filter(!(col("nat") <=> col("dec"))).count()
      assert(diff == 0L, s"n=$n")
    }
  }

  test("minhash LSH: exact-duplicate token sets always collide on every band") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha"))
      .toDF("doc_id", "text")
    val sig = df.select($"doc_id", TextFunctions.minhashSignature($"text", 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L).sizeIs == 16)
  }

  test("tokenShingles: short text yields empty, 5 tokens yield 3 trigrams") {
    val df = Seq(("a b", "one two three four five")).toDF("short", "long5")
    val r = df.select(
      TextFunctions.tokenShingles($"short", 3).as("s"),
      TextFunctions.tokenShingles($"long5", 3).as("l")).collect().head
    assert(r.getSeq[String](0).isEmpty)
    assert(r.getSeq[String](1) ==
      Seq("one two three", "two three four", "three four five"))
  }

  test("cosine: orthogonal = 0, identical = 1") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.cosine($"a", $"b").as("ortho"),
      VectorFunctions.cosine($"a", $"a").as("self")).collect().head
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("weighted avg aggregator: hand case") {
    val df = Seq((10.0, 1.0), (20.0, 3.0)).toDF("v", "w")
    val wavg = udaf(graft.operators.Extensibility.WeightedAvg)
    val got = df.agg(wavg($"v", $"w")).as[Double].head()
    assert(math.abs(got - 17.5) < 1e-12) // (10*1+20*3)/4
  }

  test("session_window merges at exactly-gap boundary, splits past it") {
    // Spark rule: event merges into the session iff ts < sessionEnd where
    // sessionEnd = last_ts + gap. At ts == prev+gap a NEW session starts.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val df = Seq((1L, at(0)), (1L, at(29)), (1L, at(59)), (1L, at(120)))
      .toDF("user_id", "ts")
    val sessions = df.groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n")).select($"n").as[Long].collect().sorted
    // 0,29,59 chain (29<0+30, 59<29+30); 120 is separate.
    assert(sessions.toSeq == Seq(1L, 3L))
  }

  test("explode and typed flatMap generators agree row-for-row") {
    val a = Registry.byName("q_arr_2_explode").fn(spark, sf).collect().toSeq
    val b = Registry.byName("q_udtf_1_generator").fn(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("native tokens_of Generator matches explode(split) exactly") {
    graft.expressions.VectorExpressions.register(spark)
    val docs = graft.sources.Tables(spark, sf, "documents").filter(col("doc_id") < 50)
    val native = docs.select(col("doc_id"), expr("tokens_of(text)"))
      .orderBy("doc_id", "token").collect().toSeq
    val builtin = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .orderBy("doc_id", "token").collect().toSeq
    assert(native.nonEmpty && native == builtin)
    // null input yields no rows, like explode of split(null)
    val nulls = spark.sql("SELECT tokens_of(CAST(NULL AS STRING))").collect()
    assert(nulls.isEmpty)
  }

  test("as-of join: purchase picks latest click at-or-before, per user") {
    val events = Registry.byName("q_join_9_asof").fn(spark, sf)
    // recompute one user's answer naively on the driver
    val ev = graft.sources.Tables(spark, sf, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3)))
    val someUser = ev.collect { case (_, u, "purchase", _) => u }.headOption
    for (u <- someUser) {
      val mine = ev.filter(_._2 == u)
      val purchases = mine.filter(_._3 == "purchase")
      val clicks = mine.filter(_._3 == "click")
      val expected = purchases.map { case (id, _, _, ts) =>
        val last = clicks.filter(c => !c._4.after(ts)).map(_._4).sortBy(_.getTime).lastOption
        id -> last.map(t => new java.sql.Timestamp(t.getTime / 1000 * 1000)).orNull
      }.toMap
      val got = events.filter($"user_id" === u)
        .select($"event_id", $"last_click_ts").collect()
        .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
      assert(got == expected)
    }
  }

  test("native cosine_similarity: codegen result matches HOF bit-for-bit, nulls propagate") {
    graft.expressions.VectorExpressions.register(spark)
    val df = Seq(
      (Option(Array(1f, 2f, 3f)), Option(Array(-1f, 0.5f, 2f))),
      (Option(Array(1f, 2f, 3f)), None))
      .toDF("a", "b")
    val rows = df.select(
      expr("cosine_similarity(a, b)").as("native"),
      graft.functions.VectorTwins.cosineHof($"a", $"b").as("hof")).collect()
    assert(java.lang.Double.doubleToLongBits(rows(0).getDouble(0)) ==
      java.lang.Double.doubleToLongBits(rows(0).getDouble(1)))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("native cosine_similarity: ragged lengths yield NULL like the HOF twin") {
    graft.expressions.VectorExpressions.register(spark)
    val r = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
      .select(expr("cosine_similarity(a, b)").as("native"),
        graft.functions.VectorTwins.cosineHof($"a", $"b").as("hof"))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("native sq_dist: codegen result matches HOF bit-for-bit over float and double arrays") {
    graft.expressions.VectorExpressions.register(spark)
    val f = Seq((Array(1f, 2f, 3f), Array(-1f, 0.5f, 2f))).toDF("a", "b")
      .select(expr("sq_dist(a, b)").as("native"),
        graft.functions.VectorTwins.sqDistHof($"a", $"b").as("hof"))
      .collect().head
    assert(java.lang.Double.doubleToLongBits(f.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(f.getDouble(1)))
    val dd = Seq((Array(1.25, -2.5, 3.75), Array(0.5, 2.0, -1.25))).toDF("a", "b")
      .select(expr("sq_dist(a, b)").as("native"),
        graft.functions.VectorTwins.sqDistHof($"a", $"b").as("hof"))
      .collect().head
    assert(java.lang.Double.doubleToLongBits(dd.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(dd.getDouble(1)))
  }

  test("native sq_dist: ragged lengths and null inputs yield NULL like the HOF twin") {
    graft.expressions.VectorExpressions.register(spark)
    val r = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
      .select(expr("sq_dist(a, b)").as("native"),
        graft.functions.VectorTwins.sqDistHof($"a", $"b").as("hof"))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    val n = Seq((Option(Array(1f, 2f)), Option.empty[Array[Float]])).toDF("a", "b")
      .select(expr("sq_dist(a, b)").as("native")).collect().head
    assert(n.isNullAt(0))
  }

  test("native dot_product: codegen result matches HOF bit-for-bit; ragged lengths yield NULL") {
    graft.expressions.VectorExpressions.register(spark)
    val r = Seq((Array(1f, 2f, 3f), Array(-1f, 0.5f, 2f))).toDF("a", "b")
      .select(expr("dot_product(a, b)").as("native"),
        graft.functions.VectorTwins.dotHof($"a", $"b").as("hof"))
      .collect().head
    assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1)))
    val ragged = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
      .select(expr("dot_product(a, b)").as("native"),
        graft.functions.VectorTwins.dotHof($"a", $"b").as("hof"))
      .collect().head
    assert(ragged.isNullAt(0) && ragged.isNullAt(1))
  }

  test("sq_dist rejects mixed element types at analysis") {
    graft.expressions.VectorExpressions.register(spark)
    val err = intercept[Exception] {
      Seq((Array(1f, 2f), Array(1.0, 2.0))).toDF("a", "b")
        .select(expr("sq_dist(a, b)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("cosine_similarity rejects wrong input types at analysis") {
    graft.expressions.VectorExpressions.register(spark)
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").select(expr("cosine_similarity(a, b)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("custom HLL sketch within 5% of exact across partitioned merge") {
    graft.expressions.HyperLogLogAgg.register(spark)
    val n = 20000L
    val got = spark.range(n).repartition(8)
      .selectExpr("hll_distinct(id) AS est").as[Long].head()
    assert(math.abs(got - n).toDouble / n < 0.05, s"est=$got exact=$n")
    // determinism: same input -> same estimate
    val again = spark.range(n).repartition(8)
      .selectExpr("hll_distinct(id) AS est").as[Long].head()
    assert(got == again)
  }

  test("custom HLL linear-counting regime is near-exact for small sets") {
    graft.expressions.HyperLogLogAgg.register(spark)
    val got = spark.range(100).selectExpr("hll_distinct(id) AS est").as[Long].head()
    assert(math.abs(got - 100L) <= 2, s"est=$got")
  }

  test("seeded sample: deterministic and near the target fraction") {
    val q = Registry.byName("q_scan_6_sample")
    val n1 = q.fn(spark, sf).count()
    val n2 = q.fn(spark, sf).count()
    assert(n1 == n2)
    val total = graft.sources.Tables(spark, sf, "lineitem").count()
    val frac = n1.toDouble / total
    assert(frac > 0.05 && frac < 0.15, s"fraction=$frac")
  }

  test("stratified sample: en down-sampled harder than the rest") {
    import org.apache.spark.sql.functions.col
    val sampled = Registry.byName("q_scan_7_stratified").fn(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val source = graft.sources.Tables(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = sampled.getOrElse("en", 0L).toDouble / source("en")
    val deRate = sampled.getOrElse("de", 0L).toDouble / source("de")
    assert(enRate < 0.25, s"enRate=$enRate")
    assert(deRate > 0.25 && deRate < 0.75, s"deRate=$deRate")
  }

  test("map HOFs: zip_with averages equal direct per-type averages") {
    val r = Registry.byName("q_map_2_hof").fn(spark, sf).collect()(0)
    // same exact-cents → scaled-integer-e4 arithmetic as the query
    val direct = graft.sources.Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg((floor((sum(floor(col("value") * 100 + 0.5).cast("long")).cast("double") / 100)
        / count(lit(1)) * 10000 + 0.5)).cast("long").as("a"))
      .orderBy("event_type").collect()
      .map(x => s"${x.getString(0)}:${x.getLong(1)}").mkString(",")
    assert(r.getString(0) == direct)
    assert(r.getLong(2) <= 2) // click/view filter keeps at most those two keys
  }

  test("approx_percentile within 2% of exact at accuracy 1000") {
    val rows = Registry.byName("q_agg_16_approx_percentile").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getDouble(1) > 0, s"${r.getString(0)}: exact_p50 must be positive")
      assert(r.getLong(2) == 1L, s"${r.getString(0)}: approx_p50 outside the 2% band")
    }
  }

  test("schema-merge read: evolved column null exactly for the v1 half") {
    val r = Registry.byName("q_scan_9_schema_merge").fn(spark, sf).collect()(0)
    val o = graft.sources.Tables(spark, sf, "orders")
    assert(r.getLong(0) == o.count())
    assert(r.getLong(1) == o.filter(col("o_orderkey") % 2 === 1).count())
  }

  test("BPE train: classic low/lower corpus learns (l,o) then (lo,w) and stops") {
    val corpus = Seq("low", "low", "lower")
      .toDF("tok").select(split(col("tok"), "").as("syms"))
    // pairs round 1: (l,o)×3 ties (o,w)×3 → lex tie-break picks (l,o);
    // round 2: (lo,w)×3; round 3: all pairs freq 1 < minFreq → stop.
    val merges = graft.functions.Bpe.train(corpus, 10)
    assert(merges == Seq((1, "l", "o", 3L), (2, "lo", "w", 3L)))
  }

  test("BPE applyMerge is greedy left-to-right, non-overlapping") {
    val df = Seq("aaaa", "aaa").toDF("tok").select(split(col("tok"), "").as("syms"))
    val got = df.select(graft.functions.Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(List("aa", "aa"), List("aa", "a")))
  }
}
