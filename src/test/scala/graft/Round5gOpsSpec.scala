package graft

/** Round-5g operators: brute-force Scala replications of the integer-exact
  * cores and the single-IEEE-expression floats (same method as the
  * Round2–5f suites).
  */
class Round5gOpsSpec extends SparkSpec {

  private def q4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private lazy val events =
    graft.sources.Tables(spark, sf, "events")
      .selectExpr("event_id", "unix_micros(ts) AS us", "user_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))

  test("q_dq_25_staleness: per-type lag vs watermark; freshest type has lag 0") {
    val tmax = events.map(_._2).max
    val expected = events.groupBy(_._4).map { case (tp, rows) =>
      val last = rows.map(_._2).max
      tp -> (rows.length.toLong, (tmax - last) / 60000000L,
        if (tmax - last > 86400000000L) 1L else 0L)
    }
    val got = Registry.byName("q_dq_25_staleness").fn(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, lag, flag) = expected(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == lag && r.getLong(3) == flag)
    }
    assert(got.map(_.getLong(2)).min == 0L)
  }

  test("q_win_14_rsi: SMA-variant RSI replicates and stays in [0, 100]") {
    val daily = events.filter(_._4 == "purchase").groupBy(_._2 / 86400000000L)
      .map { case (day, rows) => day -> rows.map(r => math.floor(r._5 * 100 + 0.5).toLong).sum }
      .toSeq.sortBy(_._1)
    val changes = daily.sliding(2).map { case Seq((_, a), (day, b)) => (day, b - a) }.toSeq
    val expected = changes.zipWithIndex.drop(13).map { case ((day, _), i) =>
      val win = changes.slice(i - 13, i + 1).map(_._2)
      val sg = win.filter(_ > 0).sum
      val sl = -win.filter(_ < 0).sum
      val rsi = if (sl == 0) 100.0 else q4(100 - 100 / (1 + sg.toDouble / sl))
      day -> (sg / 100, sl / 100, rsi)
    }.toMap
    val got = Registry.byName("q_win_14_rsi").fn(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (g, l, rsi) = expected(r.getLong(0))
      assert(r.getLong(1) == g && r.getLong(2) == l && r.getDouble(3) == rsi,
        s"day ${r.getLong(0)}")
      assert(rsi >= 0.0 && rsi <= 100.0)
    }
  }

  test("q_graph_11_degree_dist: histogram shares sum to 1; cum_share monotone to 1") {
    val got = Registry.byName("q_graph_11_degree_dist").fn(spark, sf).collect()
    assert(got.nonEmpty)
    val totalNodes = got.map(_.getLong(1)).sum
    var cum = 0L
    var lastCum = -1.0
    got.foreach { r =>
      cum += r.getLong(1)
      assert(r.getDouble(2) == q6(r.getLong(1).toDouble / totalNodes))
      assert(r.getDouble(3) == q6(cum.toDouble / totalNodes))
      assert(r.getDouble(3) > lastCum); lastCum = r.getDouble(3)
    }
    assert(math.abs(got.last.getDouble(3) - 1.0) < 1e-6)
  }

  test("q_graph_11_degree_dist: SampledEdges.bidir(50) holds the rows of the inline mod-50 derivation") {
    import org.apache.spark.sql.functions._
    val li = graft.sources.Tables(spark, sf, "lineitem").filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") + 1 === col("b.l_linenumber") &&
          col("a.l_suppkey") =!= col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      .distinct()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val inline = rows(e.union(e.select(col("dst"), col("src"))).distinct())
    val cached = rows(graft.sources.SampledEdges.bidir(spark, sf, 50))
    assert(inline.nonEmpty)
    assert(cached.size == cached.distinct.size)
    assert(cached.toSet == inline.toSet)
  }

  test("q_text_39_cond_entropy: H(w2|w1) = H_b - H_first >= 0, <= H_b") {
    // replicate for one language end-to-end
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val lang0 = docs.map(_._1).min
    val bigrams = docs.filter(_._1 == lang0)
      .flatMap(d0 => d0._2.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
    val n = bigrams.length.toLong
    val bc = bigrams.groupBy(identity).map { case (_, v) => v.length.toLong }
    val uc = bigrams.groupBy(_._1).map { case (_, v) => v.length.toLong }
    def hq(cs: Iterable[Long]): Long = cs.map { c =>
      val p = c.toDouble / n
      math.floor(-p * math.log(p) * 1e9 + 0.5).toLong
    }.sum
    val hbq = hq(bc); val huq = hq(uc)
    val got = Registry.byName("q_text_39_cond_entropy").fn(spark, sf).collect()
    val r0 = got.find(_.getString(0) == lang0).get
    assert(r0.getDouble(1) == q6(hbq.toDouble / 1e9))
    assert(r0.getDouble(2) == q6(huq.toDouble / 1e9))
    assert(r0.getDouble(3) == q6((hbq - huq).toDouble / 1e9))
    got.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= r.getDouble(1) + 1e-9)
    }
  }

  test("q_sim_21_knn_classify: LOO 5-NN majority vote replicates per label") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter("vec_id < 200")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + (p._1 * p._2).toDouble)
    val preds = vecs.map { case (qid, actual, va) =>
      val neigh = vecs.filter(_._1 != qid)
        .map { case (nid, nl, vb) => (nid, nl, dot(va, vb)) }
        .sortBy(r => (-r._3, r._1)).take(5)
      val votes = neigh.groupBy(_._2).map { case (nl, v) => (nl, v.length) }
      val pred = votes.toSeq.minBy(r => (-r._2, r._1))._1
      (actual, pred)
    }
    val expected = preds.groupBy(_._1).map { case (label, rows) =>
      label.toLong -> (rows.length.toLong, rows.count(r => r._2 == r._1).toLong)
    }
    val got = Registry.byName("q_sim_21_knn_classify").fn(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, ok) = expected(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == ok, s"label ${r.getLong(0)}")
      assert(r.getDouble(3) == q6(ok.toDouble / n))
    }
  }

  test("q_agg_35_lorenz: cumulative shares monotone; top decile largest") {
    val cents = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey", "CAST(floor(o_totalprice * 100 + 0.5) AS LONG) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(r => (r._2, r._1)).map(_._2)
    // ntile assigns ceil/floor split deterministically: first (n mod 10) tiles get the extra row
    val n = cents.length
    val base = n / 10; val extra = n % 10
    val sizes = (1 to 10).map(i => if (i <= extra) base + 1 else base)
    val offsets = sizes.scanLeft(0)(_ + _)
    val tot = cents.map(BigInt(_)).sum
    val got = Registry.byName("q_agg_35_lorenz").fn(spark, sf).collect()
    assert(got.length == 10)
    var cum = BigInt(0)
    got.zipWithIndex.foreach { case (r, i) =>
      val slice = cents.slice(offsets(i), offsets(i + 1))
      cum += slice.map(BigInt(_)).sum
      assert(r.getLong(1) == sizes(i).toLong)
      assert(r.getDouble(2) == q6(slice.map(BigInt(_)).sum.toDouble / tot.toDouble))
      assert(r.getDouble(3) == q6(cum.toDouble / tot.toDouble))
    }
    assert(got.last.getDouble(2) == got.map(_.getDouble(2)).max)
  }

  test("q_stream_21_peak_load: top-5 busiest minutes by count-then-minute order") {
    val byMin = events.groupBy(_._2 / 60000000L).map { case (m, rows) => (m, rows.length.toLong) }
    val nm = byMin.size.toLong
    val tot = byMin.values.sum
    val top = byMin.toSeq.sortBy(r => (-r._2, r._1)).take(5)
    val got = Registry.byName("q_stream_21_peak_load").fn(spark, sf).collect()
    assert(got.length == 5)
    got.zip(top).zipWithIndex.foreach { case ((r, (m, n)), i) =>
      assert(r.getLong(0) == i + 1 && r.getLong(1) == m && r.getLong(2) == n)
      assert(r.getLong(3) == nm)
      assert(r.getDouble(4) == q4(n.toDouble / (tot.toDouble / nm)))
      assert(r.getDouble(4) >= 1.0)
    }
  }
}
