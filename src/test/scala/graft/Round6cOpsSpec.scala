package graft

import org.apache.spark.sql.functions._

/** Round-6 behavioral/graph/dq operators: brute-force replications
  * over the collected sf0.001 fixtures.
  */
class Round6cOpsSpec extends SparkSpec {

  private lazy val events: Array[(Long, Long, String, Long)] =
    graft.sources.Tables(spark, sf, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_type"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  test("q_stream_34_path_trigrams: trigram counts replicate") {
    val tri = events.groupBy(_._1).values.flatMap { es =>
      val seq = es.sortBy(e => (e._2, e._4)).map(_._3)
      seq.sliding(3).filter(_.length == 3).map(_.mkString(">"))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = tri.toSeq.sortBy { case (p, n) => (-n, p) }.take(10)
    val got = Registry.byName("q_stream_34_path_trigrams").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == expected)
  }

  test("q_stream_35_churn_horizons: horizon counts replicate") {
    val lastDay = events.groupBy(_._1).view.mapValues(_.map(_._2 / 86400000000L).max).toMap
    val maxd = lastDay.values.max
    def churn(h: Int) = lastDay.values.count(_ <= maxd - h).toLong
    val r = Registry.byName("q_stream_35_churn_horizons").fn(spark, sf).collect().head
    assert(r.getLong(0) == lastDay.size.toLong)
    assert(r.getLong(1) == churn(3) && r.getLong(2) == churn(7) && r.getLong(3) == churn(14))
  }

  test("q_graph_16_ktruss: support peel replicates; edges nonincreasing") {
    // sampled adjacency, the q_graph_12/15 fixture slice
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
      .select("l_orderkey", "l_linenumber", "l_suppkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val edges = li.groupBy(_._1).values.flatMap { ls =>
      val m: Map[Int, Seq[Long]] =
        ls.groupBy(_._2).view.mapValues(_.map(_._3).toSeq).toMap
      m.toSeq.flatMap { case (ln, s1s) =>
        m.getOrElse(ln + 1, Seq.empty[Long])
          .flatMap(s2 => s1s.filter(_ != s2).map(s1 => (s1, s2)))
      }
    }.toSet
    var bidir = edges ++ edges.map(e => (e._2, e._1))
    def adjOf(b: Set[(Long, Long)]) =
      b.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def peel(b: Set[(Long, Long)]): Set[(Long, Long)] = {
      val adj = adjOf(b)
      val canon = b.filter(e => e._1 < e._2)
      val keep = canon.filter { case (u, v) =>
        (adj(u) & adj(v)).size >= 2
      }
      keep ++ keep.map(e => (e._2, e._1))
    }
    val expect = Seq.newBuilder[(Long, Long)]
    val r1 = (bidir.count(e => e._1 < e._2).toLong, adjOf(bidir).size.toLong)
    val b1 = peel(bidir)
    val r2 = (b1.count(e => e._1 < e._2).toLong,
      (b1.map(_._1) ++ b1.map(_._2)).size.toLong)
    val b2 = peel(b1)
    val r3 = (b2.count(e => e._1 < e._2).toLong,
      (b2.map(_._1) ++ b2.map(_._2)).size.toLong)
    val got = Registry.byName("q_graph_16_ktruss").fn(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(r1, r2, r3))
    assert(got.map(_._1).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("q_dq_33_order_lines: dup/gap profile replicates") {
    val byOrder = graft.sources.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nDup = byOrder.values.count(ls => ls.distinct.length < ls.length).toLong
    val nGap = byOrder.values.count(ls => ls.max > ls.distinct.length).toLong
    val r = Registry.byName("q_dq_33_order_lines").fn(spark, sf).collect().head
    assert(r.getLong(0) == byOrder.size.toLong)
    assert(r.getLong(1) == nDup && r.getLong(2) == nGap)
    assert(r.getLong(3) == byOrder.values.map(_.length).max.toLong)
  }

  test("q_sim_33_centroid_matrix: one pair replicates; all pairs present, |cos| <= 1") {
    val vecs = graft.sources.Tables(spark, sf, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val labels = vecs.map(_._1).distinct.sorted
    val rows = Registry.byName("q_sim_33_centroid_matrix").fn(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows.size == labels.length * (labels.length - 1) / 2)
    rows.values.foreach(c => assert(math.abs(c) <= 1.0))
    // replicate the (first, second) label pair exactly
    val (la, lb) = (labels(0), labels(1))
    def centroid(l: Int): Array[Long] = {
      val vs = vecs.filter(_._1 == l).map(_._2)
      val dim = vs.head.length
      (0 until dim).map { p =>
        val q = vs.map(v => math.floor(v(p).toDouble * 100000000L + 0.5).toLong)
        math.floor(q.sum.toDouble / q.length + 0.5).toLong
      }.toArray
    }
    val (ca, cb) = (centroid(la), centroid(lb))
    val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
    val qa = ca.map(x => x * x).sum
    val qb = cb.map(x => x * x).sum
    val exp = math.floor(dot.toDouble / (math.sqrt(qa.toDouble) * math.sqrt(qb.toDouble))
      * 1000000 + 0.5) / 1000000
    assert(rows((la.toLong, lb.toLong)) == exp)
  }

  test("q_graph_16_ktruss counts: a round with no edges is a zero row") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("u", "v")
    val none = tri.filter(lit(false))
    val got = graft.operators.Round6cOps.trussCounts(Seq(tri, none, none))
      .orderBy("round").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L, 3L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }
}
