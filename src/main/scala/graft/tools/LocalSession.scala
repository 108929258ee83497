package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared local-mode session builder for the dev tools (Smoke, Explain,
  * GoldenGen). Verify/Bench keep their own
  * builders — they are driver-contract files and stay self-contained.
  */
object LocalSession {
  def apply(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")): SparkSession = {
    // SPARK_GRAFT_PARTITIONS decouples shuffle width from thread count
    // for scale rehearsals: at 10-30x fixtures the per-task volume is
    // what a real cluster would keep CONSTANT by scaling the partition
    // count with the data (r10 — the sf3' memory knee reads as a fake
    // super-linear exponent otherwise).
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTITIONS", cpus)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
