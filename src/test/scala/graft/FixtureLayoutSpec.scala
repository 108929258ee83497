package graft

import org.apache.spark.sql.types._

/** Canary for fixture physical layouts (SURVEY §2.12 rule 6).
  *
  * The driver regenerates /root/testdata between rounds and the
  * physical types are NOT contractual: round 4 started with events.ts
  * silently switched from TIMESTAMP(NANOS) to TIMESTAMP(MICROS), which
  * dropped all 42 events-derived queries from the round-3 correctness
  * artifact with no test failing. This spec pins the RAW schema of
  * every fixture table so the next regeneration fails HERE, loudly,
  * with a pointer to the adaptation site — instead of silently
  * shrinking the oracle gate.
  *
  * If this spec fails after a regeneration: teach graft.sources.Tables
  * to adapt the changed column (normalize to the type the queries
  * already see), extend the accepted-variants set below, and re-run the
  * full gate (tools/run_verify.sh) before anything else.
  */
class FixtureLayoutSpec extends SparkSpec {

  private def rawTypes(table: String): Map[String, DataType] =
    spark.read.parquet(s"$sf/$table.parquet")
      .schema.fields.map(f => f.name -> f.dataType).toMap

  private def check(table: String, expected: Map[String, Set[DataType]]): Unit = {
    val got = rawTypes(table)
    assert(got.keySet == expected.keySet,
      s"$table columns changed: got ${got.keySet.toSeq.sorted}, expected " +
        s"${expected.keySet.toSeq.sorted} — fixture regenerated with a new layout? " +
        "Adapt graft.sources.Tables (SURVEY §2.12 rule 6).")
    expected.foreach { case (c, accepted) =>
      assert(accepted.contains(got(c)),
        s"$table.$c physical type changed to ${got(c)} (accepted: $accepted) — " +
          "fixture regenerated with a new layout? Adapt graft.sources.Tables " +
          "(SURVEY §2.12 rule 6) and re-run tools/run_verify.sh.")
    }
  }

  private def one(pairs: (String, DataType)*): Map[String, Set[DataType]] =
    pairs.map { case (n, t) => n -> Set(t) }.toMap

  test("events layout is one of the two known variants; Tables normalizes either") {
    // SparkSpec sets nanosAsLong, so a NANOS file reads ts as LongType
    // and a MICROS file as TimestampNTZType — both accepted, and Tables
    // must emit TimestampType for both.
    check("events", one("event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
      + ("ts" -> Set[DataType](LongType, TimestampNTZType)))
    val normalized = sources.Tables(spark, sf, "events").schema("ts").dataType
    assert(normalized == TimestampType,
      s"Tables must normalize events.ts to TimestampType, got $normalized")
  }

  test("star-schema fact/dim layouts are unchanged") {
    check("lineitem", one(
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
      "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType))
    check("orders", one(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType))
    check("customer", one(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    check("supplier", one(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    check("part", one(
      "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType))
    check("nation", one(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))
    check("region", one("r_regionkey" -> IntegerType, "r_name" -> StringType))
  }

  test("document/embedding layouts are unchanged") {
    check("documents", one(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    check("embeddings", one(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))
  }

  test("Tables learns a schema once: a second read of a table starts no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(60000L))
    }
    // a table no other suite has read in this session
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    spark.range(5).write.parquet(s"$dir/t.parquet")
    sources.Tables(spark, sf, "events")
    spark.sparkContext.addSparkListener(listener)
    try {
      def jobsOf(read: => org.apache.spark.sql.DataFrame) = {
        drain(); val j0 = jobs.get
        val df = read
        drain(); (jobs.get - j0, df)
      }
      val (first, _) = jobsOf(sources.Tables(spark, dir, "t"))
      val (second, t) = jobsOf(sources.Tables(spark, dir, "t"))
      val (events, ev) = jobsOf(sources.Tables(spark, sf, "events"))
      assert(first >= 1, "the first read infers the schema with a job")
      assert(second == 0 && events == 0, s"later reads ran jobs: t=$second events=$events")
      assert(t.count() == 5)
      assert(ev.schema("ts").dataType == TimestampType)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
