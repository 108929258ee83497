package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bt): lakehouse-operations wave —
  * case-insensitive collation discipline, minimal privacy release
  * level, dynamic partition overwrite, and the hidden-file read
  * convention.
  *
  * Determinism discipline (§2.12): the overwrite audit derives its
  * expected post-state purely from the source table; the collation
  * rank carries an explicit binary tiebreak so equal-fold names are
  * totally ordered; file-side evidence (hidden files) is pinned by
  * construction, not by environment.
  */
object Round7tOps {

  private def D(c: Column) = c.cast("double")

  private def keyedTmp(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String): String = {
    val dKey = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_${tag}_${s.sparkContext.applicationId}_$dKey"
  }

  val all: Seq[Q] = Seq(

    // Case-insensitive collation discipline: engines differ on default
    // collations, so a portable CI sort must fold EXPLICITLY
    // (lower(name)) and break folded ties with the BINARY value — this
    // query constructs mixed-case variants and pins the full ordering.
    Q("q_sort_8_ci_collation",
      """WITH v AS (SELECT s_suppkey,
        |  CASE CAST(s_suppkey % 3 AS INTEGER)
        |   WHEN 0 THEN upper(s_name) WHEN 1 THEN lower(s_name) ELSE s_name END AS name2
        | FROM supplier)
        |SELECT row_number() OVER (ORDER BY lower(name2), name2, s_suppkey) AS rn,
        | s_suppkey, name2
        |FROM v ORDER BY rn""".stripMargin) { (s, d) =>
      val name2 = when(col("s_suppkey") % 3 === 0, upper(col("s_name")))
        .when(col("s_suppkey") % 3 === 1, lower(col("s_name")))
        .otherwise(col("s_name"))
      // supplier scales with SF: the collation rank is the
      // range-partitioned exactGlobalRank over the (ci, cs, key)
      // expression order, not a single-partition window
      graft.api.Pipelines.exactGlobalRank(
          Tables(s, d, "supplier").select(col("s_suppkey"), name2.as("name2")),
          Seq(lower(col("name2")), col("name2"), col("s_suppkey")), "rn")._2
        .select(col("rn"), col("s_suppkey"), col("name2"))
        .orderBy("rn")
    },

    // Minimal-release generalization: walk the QI coarsening ladder
    // (L0 nation×segment → L1 nation-group×segment → L2 nation-group →
    // L3 global) and flag the FIRST level whose minimum group size
    // reaches k=5 — "how much must we blur before this table is safe
    // to publish", the decision q_priv_3's ladder feeds.
    Q("q_priv_9_min_release",
      """WITH l0 AS (SELECT 0 AS lvl, CAST(min(n) AS BIGINT) AS k_min, CAST(count(*) AS BIGINT) AS n_groups
        |  FROM (SELECT count(*) AS n FROM customer GROUP BY c_nationkey, c_mktsegment)),
        |l1 AS (SELECT 1, CAST(min(n) AS BIGINT), CAST(count(*) AS BIGINT)
        |  FROM (SELECT count(*) AS n FROM customer GROUP BY c_nationkey // 5, c_mktsegment)),
        |l2 AS (SELECT 2, CAST(min(n) AS BIGINT), CAST(count(*) AS BIGINT)
        |  FROM (SELECT count(*) AS n FROM customer GROUP BY c_nationkey // 5)),
        |l3 AS (SELECT 3, CAST(count(*) AS BIGINT), CAST(1 AS BIGINT) FROM customer),
        |u AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3),
        |m AS (SELECT min(lvl) AS pick FROM u WHERE k_min >= 5)
        |SELECT CAST(lvl AS BIGINT) AS lvl, k_min, n_groups,
        | CAST(CASE WHEN lvl = pick THEN 1 ELSE 0 END AS BIGINT) AS chosen
        |FROM u, m ORDER BY lvl""".stripMargin) { (s, d) =>
      val c = Tables(s, d, "customer")
      def level(lvl: Int, keys: Seq[Column]) = {
        val g = if (keys.isEmpty) c.groupBy() else c.groupBy(keys: _*)
        g.agg(count(lit(1)).as("n"))
          .agg(min(col("n")).as("k_min"), count(lit(1)).as("n_groups"))
          .select(lit(lvl.toLong).as("lvl"), col("k_min"), col("n_groups"))
      }
      val u = level(0, Seq(col("c_nationkey"), col("c_mktsegment")))
        .unionByName(level(1, Seq(expr("c_nationkey div 5"), col("c_mktsegment"))))
        .unionByName(level(2, Seq(expr("c_nationkey div 5"))))
        .unionByName(level(3, Seq.empty))
      val pick = u.filter(col("k_min") >= 5).agg(min(col("lvl")).as("pick"))
      u.crossJoin(broadcast(pick))
        .select(col("lvl"), col("k_min"), col("n_groups"),
          (col("lvl") === col("pick")).cast("long").as("chosen"))
        .orderBy("lvl")
    },

    // Dynamic partition overwrite: the lakehouse backfill primitive —
    // rewrite ONE year's partition (1997, values doubled) while every
    // other partition stays byte-identical. The read-back totals prove
    // exactly one partition changed; the oracle derives the expected
    // post-state from the source table alone.
    Q("q_sink_6_dynamic_overwrite",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |   * CASE WHEN year(o_orderdate) = 1997 THEN 2 ELSE 1 END) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val path = keyedTmp(s, d, "dynow")
      val base = Tables(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      if (!new java.io.File(path).exists()) {
        base.write.partitionBy("yr").parquet(path)
        // dynamic mode: this second write may ONLY replace yr=1997
        base.filter(col("yr") === 1997)
          .select((col("cents") * 2).as("cents"), col("yr"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("yr").parquet(path)
      }
      // partition-column read-back infers yr as int32 — re-cast to the
      // declared BIGINT (the int-vs-DOUBLE/int32 drift class the type
      // lint exists for).
      s.read.parquet(path)
        .groupBy(col("yr").cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy("yr")
    },

    // The hidden-file convention: files starting with `_` or `.`
    // (_SUCCESS, _metadata, .crc) are invisible to Spark's file index —
    // the rule that keeps committer artifacts from crashing reads. The
    // dir is seeded with two junk files by construction; the read must
    // come back clean and complete.
    Q("q_scan_25_hidden_files",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(n_nationkey) AS BIGINT) AS min_key,
        | CAST(max(n_nationkey) AS BIGINT) AS max_key,
        | CAST(2 AS BIGINT) AS n_junk_files
        |FROM nation""".stripMargin) { (s, d) =>
      val path = keyedTmp(s, d, "hidden")
      if (!new java.io.File(path).exists()) {
        Tables(s, d, "nation").write.parquet(path)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, "_junk_not_parquet.bin"),
          "definitely not parquet".getBytes("UTF-8"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, ".hidden_junk"),
          Array[Byte](0x00, 0x01, 0x02))
      }
      val junk = new java.io.File(path).listFiles()
        .count(f => f.getName.startsWith("_junk") || f.getName.startsWith(".hidden"))
      s.read.parquet(path)
        .agg(count(lit(1)).as("n_rows"),
          min(col("n_nationkey")).cast("long").as("min_key"),
          max(col("n_nationkey")).cast("long").as("max_key"))
        .select(col("n_rows"), col("min_key"), col("max_key"),
          lit(junk.toLong).as("n_junk_files"))
    }
  )
}
