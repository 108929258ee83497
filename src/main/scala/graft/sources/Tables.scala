package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central loader for the fixture tables (FIXTURES.md).
  *
  * All table access goes through here so the `events` nanosecond fix can
  * never be bypassed, and so that at production scale this is the single
  * place to attach partition filters, bucketing metadata, or a catalog.
  *
  * 100 TB-scale notes:
  *  - Facts (`lineitem`, `orders`, `events`) would be date-partitioned
  *    directories; `spark.read.parquet(dir)` + partition-column filters
  *    gives free partition pruning through this same entry point.
  *  - Dimensions (`region`, `nation`, `supplier`, `part`, `customer`) stay
  *    broadcast-sized (<8 GB) even at 100 TB fact scale; join sites wrap
  *    them in `broadcast()`.
  */
object Tables {
  private val schemas = new ConcurrentHashMap[String, StructType]()

  /** Read one fixture table; `events` gets the NANOS→µs timestamp fix. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else read(spark, s"$sfDir/$name.parquet")

  /** The raw parquet read, learning each table's schema once per
    * session, keyed by (applicationId, path) as [[SampledEdges]] keys
    * its cache. The first read infers the schema from the footer — a
    * Spark job, and the check that the file is there and readable —
    * and every later read passes the learned schema, so it starts no
    * job while the query is built. FixtureLayoutSpec pins each raw
    * layout, so no second, hand-declared copy of it is kept here.
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val key = s"${spark.sparkContext.applicationId}|$path"
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.putIfAbsent(key, df.schema)
        df
    }
  }

  /** The fixture generator has shipped `ts` two ways across rounds:
    * Parquet TIMESTAMP(NANOS) (which Spark 4.x cannot read natively —
    * [PARQUET_TYPE_ILLEGAL] — so the legacy conf reads it as a plain ns
    * long) and plain TIMESTAMP(MICROS). Adapt on the learned schema so
    * every downstream query always sees one thing: a `TimestampType` µs
    * column under the UTC session zone.
    *  - ns-long path: exact integer arithmetic (`div`, not `/` — a double
    *    division of an epoch-ns value (~1.7e18 > 2^53) loses precision).
    *  - µs path: cast TIMESTAMP_NTZ → TIMESTAMP (value-preserving under
    *    UTC) so watermarks/windows behave identically on both layouts.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
