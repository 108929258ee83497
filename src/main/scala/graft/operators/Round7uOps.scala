package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bu): operations-surface wave —
  * join-strategy hints proven result-identical, Brier score
  * decomposition, the listagg ordered string aggregate, keyed
  * pseudonymization with referential integrity, and recursive file
  * lookup.
  *
  * Determinism discipline (§2.12): Brier terms are built from exact
  * integer bin sums (scores are integral milli-units by construction);
  * pseudonymization uses sha2-256 (identical hex on both engines);
  * listagg carries an explicit WITHIN GROUP order.
  */
object Round7uOps {

  private def D(c: Column) = c.cast("double")

  private def keyedTmp(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String): String = {
    val dKey = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_${tag}_${s.sparkContext.applicationId}_$dKey"
  }

  val all: Seq[Q] = Seq(

    // Join-strategy hints: the SAME revenue-per-nation join planned as
    // a broadcast hash join AND as a sort-merge join (hint-forced),
    // results emitted side by side with an agree flag — the planner
    // surface a tuner flips at 100 TB, proven value-identical. The
    // plan shapes are pinned in PlanContract7Spec.
    Q("q_join_24_hint_strategies",
      """WITH r AS (SELECT n.n_name, CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev2
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | GROUP BY 1)
        |SELECT n_name, CAST(rev2 AS DOUBLE) / 100 AS rev_broadcast,
        | CAST(rev2 AS DOUBLE) / 100 AS rev_merge,
        | CAST(1 AS BIGINT) AS agree
        |FROM r ORDER BY n_name""".stripMargin) { (s, d) =>
      def rev(nation: org.apache.spark.sql.DataFrame) =
        Tables(s, d, "orders")
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(nation, col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("rev2"))
      val b = rev(broadcast(Tables(s, d, "nation")))
        .withColumnRenamed("rev2", "rb")
      val m = rev(Tables(s, d, "nation").hint("merge"))
        .withColumnRenamed("rev2", "rm").withColumnRenamed("n_name", "n2")
      b.join(m, col("n_name") === col("n2"))
        .select(col("n_name"),
          (D(col("rb")) / 100).as("rev_broadcast"),
          (D(col("rm")) / 100).as("rev_merge"),
          (col("rb") === col("rm")).cast("long").as("agree"))
        .orderBy("n_name")
    },

    // Brier score + Murphy decomposition (reliability / resolution /
    // uncertainty) of a deterministic pseudo-forecast: p = integral
    // milli-units by construction, outcome = order finality. Every bin
    // statistic is an exact integer sum; the decomposition's three
    // terms are single IEEE expressions of those sums, 1e-6 quantized
    // — the calibration audit for any probabilistic filter. `brier` is
    // the TRUE mean (p − y)² off the exact integer Σ(pm − 1000y)²
    // (with 100 distinct milli-unit forecasts per bin the binned
    // identity rel − res + unc is only an approximation); `resid` is
    // the decomposition gap the binning leaves — the r7 ADVICE fix.
    Q("q_ml_15_brier",
      """WITH f AS (SELECT
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 1000 AS pm,
        |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        | FROM orders),
        |b AS (SELECT pm // 100 AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pm) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy
        | FROM f GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS syy,
        |  CAST(sum((pm - 1000 * y) * (pm - 1000 * y)) AS BIGINT) AS bq FROM f),
        |terms AS (SELECT
        |  sum(CAST(n AS DOUBLE) * (CAST(sp AS DOUBLE) / n / 1000 - CAST(sy AS DOUBLE) / n)
        |    * (CAST(sp AS DOUBLE) / n / 1000 - CAST(sy AS DOUBLE) / n)) / max(t.nn) AS rel,
        |  sum(CAST(n AS DOUBLE) * (CAST(sy AS DOUBLE) / n - CAST(t.syy AS DOUBLE) / t.nn)
        |    * (CAST(sy AS DOUBLE) / n - CAST(t.syy AS DOUBLE) / t.nn)) / max(t.nn) AS res,
        |  max(CAST(t.syy AS DOUBLE) / t.nn * (1 - CAST(t.syy AS DOUBLE) / t.nn)) AS unc,
        |  max(CAST(t.bq AS DOUBLE) / 1000000 / t.nn) AS bt,
        |  max(t.nn) AS nn
        | FROM b, t)
        |SELECT CAST(nn AS BIGINT) AS n_scored,
        | floor(rel * 1000000 + 0.5) / 1000000 AS reliability,
        | floor(res * 1000000 + 0.5) / 1000000 AS resolution,
        | floor(unc * 1000000 + 0.5) / 1000000 AS uncertainty,
        | floor(bt * 1000000 + 0.5) / 1000000 AS brier,
        | floor((bt - (rel - res + unc)) * 1000000 + 0.5) / 1000000 AS resid
        |FROM terms""".stripMargin) { (s, d) =>
      val f = Tables(s, d, "orders")
        .select((floor(col("o_totalprice") * 100 + 0.5).cast("long") % 1000).as("pm"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      graft.api.Pipelines.brierDecomposition(f, "pm", "y")
    },

    // listagg — the ordered string aggregate (Spark 4 surface): each
    // segment's distinct nation keys as ONE comma string in declared
    // order. DuckDB's string_agg(ORDER BY) is the same contract.
    Q("q_agg_47_listagg",
      """WITH dn AS (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
        |SELECT c_mktsegment,
        | string_agg(CAST(c_nationkey AS VARCHAR), ',' ORDER BY c_nationkey) AS nations,
        | CAST(count(*) AS BIGINT) AS n_nations
        |FROM dn GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables(s, d, "customer")
        .select(col("c_mktsegment"), col("c_nationkey")).distinct()
        .createOrReplaceTempView("__dn")
      s.sql(
        """SELECT c_mktsegment,
          | listagg(CAST(c_nationkey AS STRING), ',')
          |   WITHIN GROUP (ORDER BY c_nationkey) AS nations,
          | CAST(count(*) AS BIGINT) AS n_nations
          |FROM __dn GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // Keyed pseudonymization with referential integrity: customer keys
    // replaced by sha2(salt ‖ key) tokens in BOTH tables, then the
    // token join proven to match the raw join exactly and the token
    // space proven collision-free — the release transform that keeps
    // analytics joinable without exposing identifiers.
    Q("q_priv_10_pseudonymize",
      """WITH ct AS (SELECT sha256('graft2026|' || CAST(c_custkey AS VARCHAR)) AS tok FROM customer),
        |ot AS (SELECT sha256('graft2026|' || CAST(o_custkey AS VARCHAR)) AS tok FROM orders),
        |raw AS (SELECT CAST(count(*) AS BIGINT) AS n_join_raw
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |tk AS (SELECT CAST(count(*) AS BIGINT) AS n_join_tok
        | FROM ot JOIN ct ON ot.tok = ct.tok),
        |u AS (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys FROM customer),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_tokens FROM ct)
        |SELECT n_join_raw, n_join_tok, n_keys, n_tokens,
        | CAST(CASE WHEN n_join_raw = n_join_tok AND n_keys = n_tokens
        |   THEN 1 ELSE 0 END AS BIGINT) AS intact
        |FROM raw, tk, u, v""".stripMargin) { (s, d) =>
      def tok(c: Column) = graft.api.Pipelines.pseudonymize(c, "graft2026")
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders")
      val ct = c.select(tok(col("c_custkey")).as("ctok"))
      val ot = o.select(tok(col("o_custkey")).as("otok"))
      val raw = o.join(c, col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n_join_raw"))
      val tk = ot.join(ct, col("otok") === col("ctok"))
        .agg(count(lit(1)).as("n_join_tok"))
      val u = c.agg(countDistinct(col("c_custkey")).as("n_keys"))
      val v = ct.agg(countDistinct(col("ctok")).as("n_tokens"))
      raw.crossJoin(tk).crossJoin(u).crossJoin(v)
        .select(col("n_join_raw"), col("n_join_tok"), col("n_keys"), col("n_tokens"),
          (col("n_join_raw") === col("n_join_tok") && col("n_keys") === col("n_tokens"))
            .cast("long").as("intact"))
    },

    // Recursive file lookup: data laid out in NESTED plain
    // subdirectories (not partition dirs) read in one pass with
    // recursiveFileLookup — the layout every hand-organized data lake
    // ends up with. Two copies under y1/ and y2/ must both surface.
    Q("q_scan_26_recursive_glob",
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_per_copy,
        | CAST(min(n_nationkey) AS BIGINT) AS min_key
        |FROM nation""".stripMargin) { (s, d) =>
      val path = keyedTmp(s, d, "rec")
      if (!new java.io.File(path).exists()) {
        Tables(s, d, "nation").write.parquet(s"$path/y1/m1")
        Tables(s, d, "nation").write.parquet(s"$path/y2/m2")
      }
      val n = Tables(s, d, "nation")
      s.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) / 2).cast("long").as("n_per_copy"),
          min(col("n_nationkey")).cast("long").as("min_key"))
    }
  )
}
