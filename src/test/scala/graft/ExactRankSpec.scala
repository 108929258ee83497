package graft

import graft.api.Pipelines
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Pipelines.orderedScan and its forms (exactRankPick, exactGlobalRank,
  * groupRankPrefix, groupLeadLong, ntileOfRank) — the range-partitioned
  * replacements for the single-partition `Window.orderBy` global-sort
  * pattern (VERDICT r7 item 1). Parity is pinned EXACTLY against the
  * window reference forms on the sf0.001 fixtures, and the plan is
  * pinned to contain a RangePartitioning exchange (not a one-task
  * global sort).
  */
class ExactRankSpec extends SparkSpec {

  /** Runs `body` at `n` shuffle partitions — the range partition count
    * of every ordered scan built inside it — and restores the setting.
    */
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  private lazy val o = graft.sources.Tables(spark, sf, "orders")
    .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
      col("o_orderkey"))

  test("exactRankPick matches the single-partition rank pick at several ranks") {
    val ref = o.select(col("cents"),
        row_number().over(Window.orderBy("cents", "o_orderkey")).cast("long").as("rn"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val n = ref.size.toLong
    val ranks = Seq(1L, 2L, n / 3, (n + 1) / 2, n - 1, n).distinct
    val (gotN, picks) = Pipelines.exactRankPick(o, "cents", _ => ranks)
    assert(gotN == n)
    for (r <- ranks) assert(picks(r) == ref(r), s"rank $r")
  }

  test("exactRankPick handles duplicate and boundary ranks") {
    val (n, picks) = Pipelines.exactRankPick(o, "cents", nn => Seq(1L, 1L, nn))
    assert(picks.size == 2 && n > 0)
    val mn = o.agg(min("cents"), max("cents")).collect().head
    assert(picks(1L) == mn.getLong(0) && picks(n) == mn.getLong(1))
  }

  test("exactGlobalRank matches the single-partition row_number on a unique order") {
    val ref = o.select(col("o_orderkey"),
        row_number().over(Window.orderBy("cents", "o_orderkey")).cast("long").as("rk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Pipelines.exactGlobalRank(o, Seq(col("cents"), col("o_orderkey")), "rk")._2
      .select("o_orderkey", "rk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
  }

  test("exactGlobalRank plan shows RangePartitioning, not a one-task sort") {
    // the fact shuffle is the range exchange; the helper's rank stage
    // then maps the sorted partitions with per-partition offsets (RDD
    // two-pass, rfmSegments' machinery) — so the ONLY wide op in the
    // whole build is the RangePartitioning exchange, and nothing is a
    // SinglePartition exchange of the fact
    val rangedPlan = o.repartitionByRange(8, col("cents"), col("o_orderkey"))
      .sortWithinPartitions("cents", "o_orderkey")
      .queryExecution.executedPlan.toString
    assert(rangedPlan.toLowerCase.contains("rangepartitioning"), rangedPlan.take(2000))
    assert(!rangedPlan.contains("SinglePartition"), rangedPlan.take(2000))
    val plan = Pipelines.exactGlobalRank(o, Seq(col("cents"), col("o_orderkey")), "rk")._2
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(2000))
  }

  test("ntileOfRank matches the ntile builtin for even and ragged splits") {
    for (k <- Seq(3, 7, 10)) {
      val ref = o.select(col("o_orderkey"),
          ntile(k).over(Window.orderBy("cents", "o_orderkey")).cast("long").as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = ref.size.toLong
      val got = Pipelines.exactGlobalRank(o, Seq(col("cents"), col("o_orderkey")), "rk")._2
        .select(col("o_orderkey"), Pipelines.ntileOfRank(col("rk"), lit(n), k).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"k=$k")
    }
  }

  test("prefixSum matches the single-partition running-sum window bit-exactly") {
    val toks = graft.sources.Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = toks.withColumn("c", sum("tok").over(w))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = Pipelines.groupRankPrefix(toks, Nil, Seq(col("doc_id")),
        sums = Seq(("tok", "c", "")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == ref)
  }

  test("prefixSumN carries two running sums through one shuffle, matching the windows") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, i % 7, i % 3)).toDF("k", "a", "b")
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.select(col("k"), sum("a").over(w).as("ca"), sum("b").over(w).as("cb"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = Pipelines.groupRankPrefix(df, Nil, Seq(col("k")),
        sums = Seq(("a", "ca", ""), ("b", "cb", "")))
      .select("k", "ca", "cb")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == ref)
  }

  test("adjacentPairs emits exactly the global-lead pairs, boundaries stitched") {
    val ids = graft.sources.Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("id")).distinct()
    val ref = ids.withColumn("nxt", lead("id", 1).over(Window.orderBy("id")))
      .filter(col("nxt").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Pipelines.groupLeadLong(ids, Nil, Seq(col("id")), "id", "nxt")
      .filter(col("nxt").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref && got.nonEmpty)
  }

  test("exactGroupRankCount matches the per-group window pair on a unique order") {
    val c = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        col("o_orderkey"))
    val w = Window.partitionBy("prio").orderBy("cents", "o_orderkey")
    val ref = c
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("ng", count(lit(1)).over(Window.partitionBy("prio")))
      .collect().map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4))).toMap
    // 7 partitions force groups to SPAN range partitions, exercising
    // the cross-partition offset stitching
    val got = withShufflePartitions(7) {
      Pipelines.groupRankPrefix(c, Seq("prio"),
          Seq(col("cents"), col("o_orderkey")), "rn", "ng")
        .collect().map(r => r.getLong(2) -> (r.getLong(3), r.getLong(4))).toMap
    }
    assert(got == ref && got.nonEmpty)
  }

  test("exactGroupRankCount: multi-column groups and empty input") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10L), ("a", 1L, 5L), ("a", 2L, 7L), ("b", 1L, 3L))
      .toDF("g1", "g2", "v")
    val got = withShufflePartitions(3) {
      Pipelines.groupRankPrefix(df, Seq("g1", "g2"), Seq(col("v")), "rn", "n")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4))).toMap
    }
    assert(got == Map(
      ("a", 1L, 5L) -> (1L, 2L), ("a", 1L, 10L) -> (2L, 2L),
      ("a", 2L, 7L) -> (1L, 1L), ("b", 1L, 3L) -> (1L, 1L)))
    val empty = Pipelines.groupRankPrefix(df.filter(col("v") < 0),
      Seq("g1"), Seq(col("v")), "rn", "n")
    assert(empty.count() == 0L)
  }

  test("exactGroupRankCount plan shows RangePartitioning, not a per-group hash sort") {
    val c = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        col("o_orderkey"))
    val plan = Pipelines.groupRankPrefix(c, Seq("prio"),
        Seq(col("cents"), col("o_orderkey")), "rn", "ng")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(2000))
    assert(!plan.toLowerCase.contains("window"), plan.take(2000))
  }

  test("groupRankPrefix running sums + totals match the per-group window pair bit-exactly") {
    val c = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_returnflag").as("f"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"),
        col("l_quantity").cast("long").as("wt"),
        col("l_orderkey"), col("l_linenumber"))
    val wc = Window.partitionBy("f").orderBy("v", "l_orderkey", "l_linenumber", "wt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wa = Window.partitionBy("f")
    // (okey, lnum) is not unique in the fixtures (q_win_10's lesson), so
    // compare SORTED MULTISETS: within a complete tie group the running
    // sums form the same value set under any tie order
    val ref = c.select(col("l_orderkey"), col("l_linenumber"),
        sum("wt").over(wc).as("cw"), sum("wt").over(wa).as("tw"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val got = withShufflePartitions(7) {
      Pipelines.groupRankPrefix(c, Seq("f"),
          Seq(col("v"), col("l_orderkey"), col("l_linenumber"), col("wt")), "rk", "n",
          Seq(("wt", "cw", "tw")))
        .select("l_orderkey", "l_linenumber", "cw", "tw")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._3))
    }
    assert(got.toSeq == ref.toSeq && got.nonEmpty)
  }

  test("groupLeadLong matches the per-group lead window, boundaries stitched") {
    val e = graft.sources.Tables(spark, sf, "events")
      .select(col("event_type"), expr("unix_micros(ts)").as("us"), col("event_id"))
    val w = Window.partitionBy("event_type").orderBy("us", "event_id")
    val ref = e.withColumn("nxt", lead("us", 1).over(w))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // 5 partitions force event-type groups to span range partitions
    val got = withShufflePartitions(5) {
      Pipelines.groupLeadLong(e, Seq("event_type"),
          Seq(col("us"), col("event_id")), "us", "nxt")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    }
    assert(got == ref && got.nonEmpty)
  }

  test("funnelGapStats equals the window-form funnel tail it replaced") {
    import spark.implicits._
    // synthetic hops with ties and ragged group sizes
    val hops = ((1 to 101).map(i => ("view_to_click", (i % 13).toLong * 60000000L))
        ++ (1 to 40).map(i => ("click_to_purchase", (i % 7).toLong * 90000000L)))
      .toDF("hop", "gap_us")
    val w = Window.partitionBy("hop").orderBy("gap_us")
    val ref = hops
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("hop")))
      .groupBy("hop")
      .agg(max("n").as("n_users"),
        (max(when(col("rn") === floor((col("n") + 1) / lit(2.0)).cast("long"), col("gap_us")))
          / 60000000L).cast("long").as("median_minutes"),
        (max(when(col("rn") === floor((lit(9) * col("n") + 9) / lit(10.0)).cast("long"),
          col("gap_us"))) / 60000000L).cast("long").as("p90_minutes"))
      .orderBy("hop").collect().toSeq
    val got = Pipelines.funnelGapStats(hops).collect().toSeq
    assert(got == ref)
  }

  test("ntileOfRank when n < k assigns rank as bucket (builtin semantics)") {
    import spark.implicits._
    val tiny = Seq(10L, 20L, 30L).toDF("v")
    val ref = tiny.select(col("v"),
        ntile(10).over(Window.orderBy("v")).cast("long").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Pipelines.exactGlobalRank(tiny, Seq(col("v")), "rk")._2
      .select(col("v"), Pipelines.ntileOfRank(col("rk"), lit(3L), 10).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref)
  }

  test("one orderedScan emits rank, group count, running sum and a Short lead across an empty partition") {
    val in = spark.range(1, 13, 1, 2).select(col("id"),
      when(col("id") <= 8, "a").otherwise("b").as("g"),
      (col("id") * 7 % 5).cast("int").as("v"), (col("id") * 3).cast("short").as("w"))
    // group a's rows 3..8 sort at 3..8 while the range boundaries are
    // sampled and at 103..108 when the rows are shuffled, so the range
    // partitions between a's first two rows and its last six are empty:
    // the offsets and the lead must skip them
    val o = udf { (id: Long) =>
      val stage = org.apache.spark.TaskContext.get().stageId()
      ExactRankSpec.samplingStage.compareAndSet(-1, stage)
      if (stage == ExactRankSpec.samplingStage.get || id <= 2 || id > 8) id else id + 100
    }.asNondeterministic()
    val w = Window.partitionBy("g").orderBy("o")
    val ref = in.withColumn("o", when(col("id").between(3, 8), col("id") + 100).otherwise(col("id")))
      .select(col("id"), row_number().over(w).cast("long"),
        count(lit(1)).over(Window.partitionBy("g")),
        sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lead("w", 1).over(w).cast("long"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    for (parts <- Seq(1, 3, 7)) {
      val (counts, got) = withShufflePartitions(parts) {
        ExactRankSpec.samplingStage.set(-1)
        val (counts, df) = Pipelines.orderedScan(in.withColumn("o", o(col("id"))),
          Seq("g"), Seq(col("o")), "rk", "n", Seq(("v", "cv", "")), ("w", "nw"))
        (counts, df.select("id", "rk", "n", "cv", "nw").collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap)
      }
      assert(got == ref, s"$parts partitions")
      val used = counts.indices.filter(counts(_) > 0)
      assert(parts == 1 || used.last - used.head >= used.size,
        s"$parts partitions: no empty partition between rows (${counts.mkString(",")})")
    }
  }
}

object ExactRankSpec {
  /** Stage id of the first task that evaluated the shifting key: the
    * range-boundary sampling job of the scan under test. */
  val samplingStage = new java.util.concurrent.atomic.AtomicInteger(-1)
}
