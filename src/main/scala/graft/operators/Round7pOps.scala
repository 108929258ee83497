package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bp): edge-semantics wave —
  * generator OUTER semantics, ISO-week calendar boundaries, CSV
  * quote/escape/multiline round-trip, the Hodges–Lehmann pseudo-median,
  * a dynamic IN-subquery filter, and UDF-vs-builtin Levenshtein parity.
  *
  * Determinism discipline (§2.12): the HL median is a rank pick over
  * INTEGER Walsh sums (halved only at emission), the CSV audit compares
  * read-back values row-for-row against the recomputed construction,
  * and every query ends in a total ORDER BY.
  */
object Round7pOps {

  /** q_scan_24's per-(session, dataset) CSV materialization path
    * (dppCachePath precedent). */
  def csvPath(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dKey = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_csvq_${s.sparkContext.applicationId}_$dKey"
  }

  /** Classic DP Levenshtein — deliberately a Scala UDF so q_udf_3 can
    * pin it against the codegen'd builtin row for row. */
  private[graft] def levScala(a: String, b: String): Int = {
    val (n, m) = (a.length, b.length)
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  val all: Seq[Q] = Seq(

    // Generator OUTER semantics: explode_outer keeps a row (with NULL
    // element) for customers whose 1995 month set is EMPTY, while plain
    // explode would drop them — the difference between "no activity"
    // disappearing from a report and showing as null. The oracle states
    // the same via LEFT JOIN.
    Q("q_udtf_4_explode_outer",
      """WITH m AS (SELECT DISTINCT o_custkey, CAST(month(o_orderdate) AS INTEGER) AS m
        |  FROM orders WHERE year(o_orderdate) = 1995),
        |j AS (SELECT c.c_mktsegment, m.m
        | FROM customer c LEFT JOIN m ON c.c_custkey = m.o_custkey)
        |SELECT c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n_outer,
        | CAST(count(m) AS BIGINT) AS n_inner,
        | CAST(sum(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_silent
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // collect_set per customer (one shuffle), then the generator runs
      // rowwise: explode_outer(NULL array) → one null row. n_inner
      // counts only generated elements, so inner-vs-outer is pinned in
      // ONE result.
      val ms = Tables(s, d, "orders")
        .filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey"), month(col("o_orderdate")).as("m"))
        .groupBy("o_custkey").agg(collect_set(col("m")).as("months"))
      Tables(s, d, "customer")
        .join(ms, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), explode_outer(col("months")).as("m"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_outer"),
          count(col("m")).as("n_inner"),
          sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_silent"))
        .orderBy("c_mktsegment")
    },

    // ISO-8601 week calendar pinned across the year boundary: orders
    // bucketed by (ISO year-of-week, ISO week). Early-January days can
    // belong to the PREVIOUS iso year (and late-December to the next) —
    // the n_boundary column counts exactly those rows, proving both
    // engines share the ISO convention, not just a week number.
    Q("q_time_29_iso_week",
      """SELECT CAST(date_part('isoyear', o_orderdate) AS BIGINT) AS iso_year,
        | CAST(date_part('week', o_orderdate) AS BIGINT) AS iso_week,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CASE WHEN date_part('isoyear', o_orderdate)
        |     <> date_part('year', o_orderdate) THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .select(expr("extract(YEAROFWEEK FROM o_orderdate)").cast("long").as("iso_year"),
          weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
          year(col("o_orderdate")).cast("long").as("cal_year"))
        .groupBy("iso_year", "iso_week")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("iso_year") =!= col("cal_year"), 1L).otherwise(0L)).as("n_boundary"))
        .orderBy("iso_year", "iso_week")
    },

    // CSV quote/escape/multiline round-trip: each doc's text is wrapped
    // in a field that CONTAINS commas, double quotes, and an embedded
    // newline, written to CSV and read back (multiLine). The audit
    // joins read-back to the recomputed construction by doc_id and
    // counts mismatches — the oracle pins lengths and zero mismatches
    // from the SOURCE table, so a quoting bug on either leg flips the
    // hash.
    Q("q_scan_24_csv_quoting",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(6 + least(30, length(text))) AS BIGINT) AS sum_len,
        | CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents""".stripMargin) { (s, d) =>
      // Field = a,"b"\n<prefix(text,30)>: comma, quotes, newline all in
      // one value. Spark writes escape-quoted CSV; the multiLine reader
      // must reassemble the embedded newline across physical lines.
      val gnarly = concat(lit("a,\"b\"\n"), substring(col("text"), 1, 30))
      val src = Tables(s, d, "documents").select(col("doc_id"), gnarly.as("v"))
      val path = csvPath(s, d)
      if (!new java.io.File(path).exists()) {
        // The CSV WRITER trims field whitespace by default
        // (ignoreLeading/TrailingWhiteSpace=true on write) — a prefix
        // ending in a space would silently shrink; disable both so the
        // round trip is byte-exact.
        src.write.mode("overwrite").option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(path)
      }
      val back = s.read.option("header", "true").option("multiLine", "true")
        .schema("doc_id LONG, v STRING").csv(path)
        .select(col("doc_id").as("rb_id"), col("v").as("rb_v"))
      src.join(back, col("doc_id") === col("rb_id"), "full")
        .agg(count(lit(1)).as("n_rows"),
          sum(length(col("rb_v"))).as("sum_len"),
          sum(when(col("v") <=> col("rb_v"), 0L).otherwise(1L)).as("n_mismatch"))
    },

    // Hodges–Lehmann pseudo-median of monthly order volume per
    // priority: the median of all Walsh averages (x_i + x_j)/2, i ≤ j —
    // the robust location estimator paired with the Wilcoxon test.
    // Walsh sums stay INTEGER; the rank pick halves only at emission.
    Q("q_stat_44_hodges_lehmann",
      """WITH mc AS (SELECT o_orderpriority AS pr, strftime(o_orderdate, '%Y-%m') AS ym,
        |  CAST(count(*) AS BIGINT) AS x
        | FROM orders GROUP BY 1, 2),
        |w AS (SELECT a.pr, a.ym AS y1, b.ym AS y2, a.x + b.x AS s
        | FROM mc a JOIN mc b ON a.pr = b.pr AND a.ym <= b.ym),
        |r AS (SELECT pr, s, row_number() OVER (PARTITION BY pr ORDER BY s, y1, y2) AS rn,
        |  count(*) OVER (PARTITION BY pr) AS nw
        | FROM w)
        |SELECT pr AS o_orderpriority,
        | CAST(max(CASE WHEN rn = (nw + 1) // 2 THEN s END)
        |   + max(CASE WHEN rn = (nw + 2) // 2 THEN s END) AS DOUBLE) / 4 AS hl_estimate,
        | CAST(max(nw) AS BIGINT) AS n_walsh
        |FROM r GROUP BY pr ORDER BY pr""".stripMargin) { (s, d) =>
      // The pair space is months², ~80² per priority — bounded by the
      // CALENDAR, not the fact table.
      val mc = Tables(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pr"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("x"))
      graft.api.Pipelines.hodgesLehmann(mc, "pr", "ym", "x")
        .select(col("pr").as("o_orderpriority"), col("hl_estimate"), col("n_walsh"))
        .orderBy("o_orderpriority")
    },

    // Dynamic IN-list: segments of customers in the top-5 most-populous
    // nations, where the list is computed by a subquery, not a literal.
    // Spark plans the IN-subquery as a left_semi hash join against the
    // 5-row aggregate — the shape that replaces driver-side collect()
    // of filter lists.
    Q("q_filter_7_dynamic_in",
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer WHERE c_nationkey IN (
        | SELECT c_nationkey FROM customer GROUP BY 1
        | ORDER BY count(*) DESC, c_nationkey LIMIT 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val c = Tables(s, d, "customer")
      val top5 = c.groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("nk")).limit(5).select(col("nk"))
      c.join(broadcast(top5), col("c_nationkey") === col("nk"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },

    // UDF-vs-builtin parity, the q_udf_1 comparison row for a REAL
    // algorithm: Levenshtein distance between each supplier name and
    // its key-order neighbor, computed by a Scala DP UDF and by the
    // codegen'd builtin — emitted side by side with an agree flag, and
    // the oracle recomputes both columns with DuckDB's levenshtein.
    Q("q_udf_3_lev_parity",
      """WITH p AS (SELECT s_suppkey, s_name,
        |  lead(s_name) OVER (ORDER BY s_suppkey) AS nxt
        | FROM supplier)
        |SELECT s_suppkey,
        | CAST(levenshtein(s_name, nxt) AS BIGINT) AS lev_udf,
        | CAST(levenshtein(s_name, nxt) AS BIGINT) AS lev_builtin,
        | CAST(1 AS BIGINT) AS agree
        |FROM p WHERE nxt IS NOT NULL ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val levUdf = udf((a: String, b: String) => levScala(a, b))
      // supplier scales with SF, so the key-order neighbor comes from
      // the range-partitioned exact rank + a rank->rank+1 self-join,
      // not a single-partition lead() window
      val rk = graft.api.Pipelines.exactGlobalRank(
        Tables(s, d, "supplier").select(col("s_suppkey"), col("s_name")),
        Seq("s_suppkey"), "rk")
      rk.join(rk.select((col("rk") - 1).as("rk"), col("s_name").as("nxt")), "rk")
        .select(col("s_suppkey"),
          levUdf(col("s_name"), col("nxt")).cast("long").as("lev_udf"),
          levenshtein(col("s_name"), col("nxt")).cast("long").as("lev_builtin"))
        .select(col("s_suppkey"), col("lev_udf"), col("lev_builtin"),
          (col("lev_udf") === col("lev_builtin")).cast("long").as("agree"))
        .orderBy("s_suppkey")
    }
  )
}
