package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders

/** Round-7 continuation (SURVEY §2.11bn): thin-family depth wave two —
  * mixed-direction sort-null semantics, three-valued predicate logic,
  * the array-HOF order profile, quantile-loss (pinball) evaluation, the
  * per-source token-accounting ledger, a bounded bottom-k-by-hash
  * Aggregator (the deterministic distributed "reservoir"), binary
  * magic-byte sniffing, and a range-clustered write audit.
  *
  * Determinism discipline (§2.12): money in cents / losses in exact
  * deci-cent BIGINTs until the final emission; every hash split uses the
  * engine-portable multiplicative hash (q_scan_13 precedent), never an
  * engine-private RNG; every query ends in a total ORDER BY.
  */
object Round7nOps {

  private def D(c: Column) = c.cast("double")

  /** floor(x*100+0.5) as BIGINT — the 2-dp fixture columns are exact. */
  private def cents(c: Column) = floor(c * 100 + 0.5).cast("long")

  /** Bounded bottom-k-by-hash per group: the deterministic distributed
    * "reservoir". The buffer holds at most K keys — the K smallest by
    * (portable hash, key) — so partial aggregation ships O(K) state per
    * group per map task regardless of group size; merge is an O(K)
    * sorted union. Unlike seeded sample() this picks THE SAME rows on
    * any cluster size, run, or engine — the property a training-data
    * pipeline needs to re-draw "the same 5 examples per segment" years
    * later.
    */
  final case class BKBuf(ks: Array[Long])
  class BottomKAgg(K: Int) extends Aggregator[Long, BKBuf, BKBuf] {
    private def h(k: Long): Long =
      (math.floorMod(k, 1000000007L) * 2654435761L) % 1000000007L
    private def trim(ks: Array[Long]): Array[Long] =
      ks.distinct.sortBy(k => (h(k), k)).take(K)
    def zero: BKBuf = BKBuf(Array.empty)
    def reduce(b: BKBuf, a: Long): BKBuf = BKBuf(trim(b.ks :+ a))
    def merge(x: BKBuf, y: BKBuf): BKBuf = BKBuf(trim(x.ks ++ y.ks))
    def finish(r: BKBuf): BKBuf = r
    def bufferEncoder = Encoders.product[BKBuf]
    def outputEncoder = Encoders.product[BKBuf]
  }
  object BottomK extends BottomKAgg(5)

  /** q_sink_5's per-(session, dataset) range-clustered materialization
    * path (q_scan_22/dppCachePath precedent: keyed on BOTH appId and a
    * dataset-dir digest so two datasets never share a cache). */
  def rangeWritePath(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val dKey = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_rangew_${s.sparkContext.applicationId}_$dKey"
  }

  private val PNG = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
  private val RIFF = Array(0x52, 0x49, 0x46, 0x46).map(_.toByte)

  val all: Seq[Q] = Seq(

    // Mixed-direction multi-key sort with explicit null placement:
    // customers by (last order month DESC NULLS LAST, balance ASC,
    // key). Spark's bare DESC is nulls-LAST while its bare ASC is
    // nulls-FIRST, and DuckDB defaults differ again — so a portable
    // engine must always declare placement; this query pins the
    // declared form on both sides. Complements q_sort_6 (ASC NULLS
    // FIRST).
    Q("q_sort_7_mixed_dirs",
      """WITH lo AS (SELECT o_custkey, strftime(max(o_orderdate), '%Y-%m') AS last_ym
        |  FROM orders GROUP BY 1),
        |t AS (SELECT c.c_custkey, lo.last_ym,
        |  CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal2
        | FROM customer c LEFT JOIN lo ON c.c_custkey = lo.o_custkey),
        |r AS (SELECT c_custkey, last_ym, bal2, row_number() OVER (
        |  ORDER BY last_ym DESC NULLS LAST, bal2 ASC, c_custkey) AS rn FROM t)
        |SELECT rn, c_custkey, coalesce(last_ym, 'never') AS last_ym,
        | CAST(bal2 AS DOUBLE) / 100 AS bal
        |FROM r WHERE rn <= 100 ORDER BY rn""".stripMargin) { (s, d) =>
      // The window input is the customer dim (orders pre-aggregated to
      // one row per customer), so the single-partition rank is
      // dim-bounded; last_ym emits as a string (DATE outputs are
      // representation-fragile across the engines' pandas paths).
      val lo = Tables(s, d, "orders").groupBy(col("o_custkey"))
        .agg(date_format(max(col("o_orderdate")), "yyyy-MM").as("last_ym"))
      val t = Tables(s, d, "customer")
        .join(lo, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("last_ym"), cents(col("c_acctbal")).as("bal2"))
      // TakeOrdered bottom-100 (per-partition heads merged on the
      // driver — distributed even when the customer dim scales with the
      // business); the rank window then runs over just those 100 rows
      val w = Window.orderBy(col("last_ym").desc_nulls_last,
        col("bal2").asc, col("c_custkey").asc)
      t.orderBy(col("last_ym").desc_nulls_last, col("bal2").asc, col("c_custkey").asc)
        .limit(100)
        .select(row_number().over(w).as("rn"), col("c_custkey"),
          coalesce(col("last_ym"), lit("never")).as("last_ym"),
          (D(col("bal2")) / 100).as("bal"))
        .orderBy("rn")
    },

    // Three-valued logic pinned: with d = nullif(discount, 0), the
    // predicate d > 0.04 is TRUE / FALSE / NULL, and NOT(p) keeps NULL
    // as NULL — so the three branch counts must partition the table
    // exactly. The `agree` flag proves the partition law holds on the
    // engine itself, not just in the oracle.
    Q("q_filter_6_three_valued",
      """WITH t AS (SELECT nullif(l_discount, 0.0) AS dn FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        | CAST(sum(CASE WHEN dn > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        | CAST(sum(CASE WHEN NOT (dn > 0.04) THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        | CAST(sum(CASE WHEN (dn > 0.04) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        | CAST(sum(CASE WHEN coalesce(dn > 0.04, true) THEN 1 ELSE 0 END) AS BIGINT) AS n_coalesce_true,
        | CAST(CASE WHEN count(*) = sum(CASE WHEN dn > 0.04 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN NOT (dn > 0.04) THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN (dn > 0.04) IS NULL THEN 1 ELSE 0 END)
        |  THEN 1 ELSE 0 END AS BIGINT) AS agree
        |FROM t""".stripMargin) { (s, d) =>
      // Global aggregate — one scan, no join, every branch a codegen'd
      // conditional on the already-read column. 0.04 is the same IEEE
      // literal on both engines; the fixture's 2-dp discounts never sit
      // on its representation boundary.
      val t = Tables(s, d, "lineitem")
        .select(nullif(col("l_discount"), lit(0.0)).as("dn"))
      val p = col("dn") > 0.04
      val b = (c: Column) => sum(when(c, 1L).otherwise(0L))
      t.agg(count(lit(1)).as("n_total"),
          b(p).as("n_true"),
          b(!p).as("n_false"),
          b(p.isNull).as("n_null"),
          b(coalesce(p, lit(true))).as("n_coalesce_true"))
        .select(col("n_total"), col("n_true"), col("n_false"), col("n_null"),
          col("n_coalesce_true"),
          (col("n_total") === col("n_true") + col("n_false") + col("n_null"))
            .cast("long").as("agree"))
    },

    // Array order-statistics profile per order via HOFs: the line
    // quantities collected once, then min/max/top-3-sum/membership all
    // computed from the ONE array (sort_array → reverse → slice →
    // aggregate) — zero re-shuffles after the single groupBy. The
    // oracle states the same numbers relationally (rank windows).
    Q("q_arr_6_lines_profile",
      """WITH q AS (SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_quantity DESC, l_linenumber, l_extendedprice) AS rk
        | FROM lineitem)
        |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(min(qty) AS BIGINT) AS q_min, CAST(max(qty) AS BIGINT) AS q_max,
        | CAST(sum(CASE WHEN rk <= 3 THEN qty ELSE 0 END) AS BIGINT) AS top3_sum,
        | CAST(max(CASE WHEN qty = 50 THEN 1 ELSE 0 END) AS BIGINT) AS has_50
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // quantity is integral-in-double (FIXTURES.md) → BIGINT exact.
      // The aggregate() fold keeps init 0L so the sum stays LongType;
      // single-level lambda stays inside whole-stage codegen.
      val qs = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("qty"))).as("qs"))
      qs.select(col("l_orderkey"),
          size(col("qs")).cast("long").as("n_lines"),
          element_at(col("qs"), 1).as("q_min"),
          element_at(col("qs"), -1).as("q_max"),
          aggregate(slice(reverse(col("qs")), 1, 3), lit(0L), (a, x) => a + x).as("top3_sum"),
          array_contains(col("qs"), lit(50L)).cast("long").as("has_50"))
        .orderBy("l_orderkey")
    },

    // Quantile-regression evaluation: per segment, the train split's
    // exact type-1 q50/q90 of order value score the held-out split
    // under pinball loss — THE metric for quantile forecasts (τ-scaled
    // one-sided errors; τ=0.5 gives MAE/2). Split by portable hash
    // (h%4: 3 train shards, 1 test), never an engine RNG.
    Q("q_ml_13_pinball",
      """WITH o2 AS (SELECT o_orderkey, o_custkey,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS t2,
        |  (o_orderkey % 1000000007) * 2654435761 % 1000000007 % 4 AS h
        | FROM orders),
        |j AS (SELECT o2.*, c.c_mktsegment AS seg
        | FROM o2 JOIN customer c ON o2.o_custkey = c.c_custkey),
        |tr AS (SELECT seg, t2, o_orderkey,
        |  row_number() OVER (PARTITION BY seg ORDER BY t2, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY seg) AS n
        | FROM j WHERE h < 3),
        |qq AS (SELECT seg,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN t2 END) AS q50,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN t2 END) AS q90
        | FROM tr GROUP BY 1),
        |te AS (SELECT seg, t2 FROM j WHERE h = 3)
        |SELECT te.seg, CAST(count(*) AS BIGINT) AS n_test,
        | CAST(q50 AS DOUBLE) / 100 AS q50,
        | CAST(q90 AS DOUBLE) / 100 AS q90,
        | floor(CAST(sum(greatest(5 * (t2 - q50), -5 * (t2 - q50))) AS DOUBLE)
        |   / 1000 / count(*) * 1000000 + 0.5) / 1000000 AS pinball50,
        | floor(CAST(sum(greatest(9 * (t2 - q90), -(t2 - q90))) AS DOUBLE)
        |   / 1000 / count(*) * 1000000 + 0.5) / 1000000 AS pinball90
        |FROM te JOIN qq ON te.seg = qq.seg
        |GROUP BY te.seg, q50, q90 ORDER BY te.seg""".stripMargin) { (s, d) =>
      val j = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), cents(col("o_totalprice")).as("t2"))
        .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("t2"), col("c_mktsegment").as("seg"))
      graft.api.Pipelines.pinballEval(j, "seg", "t2", "o_orderkey")
        .orderBy("seg")
    },

    // The token-accounting ledger: every training-data pipeline reports
    // "where did my tokens go" per source — raw → quality gate (≥20
    // tokens) → near-dup removal (normalized token-multiset digest,
    // first-doc-wins) → context truncation (cap 96). One corpus scan
    // derives all stages; the digest dedup is the q_dedup_2 multiset
    // normalization, so re-orderings of the same tokens collapse.
    Q("q_pipe_11_token_ledger",
      """WITH t AS (SELECT doc_id, source,
        |  len(string_split(text, ' ')) AS ntok,
        |  md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS dg
        | FROM documents),
        |s0 AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_raw,
        |  CAST(sum(ntok) AS BIGINT) AS toks_raw FROM t GROUP BY 1),
        |q AS (SELECT * FROM t WHERE ntok >= 20),
        |s1 AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_quality,
        |  CAST(sum(ntok) AS BIGINT) AS toks_quality FROM q GROUP BY 1),
        |k AS (SELECT *, row_number() OVER (PARTITION BY dg ORDER BY doc_id) AS rk FROM q),
        |s2 AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_dedup,
        |  CAST(sum(ntok) AS BIGINT) AS toks_dedup,
        |  CAST(sum(least(ntok, 96)) AS BIGINT) AS toks_packed
        | FROM k WHERE rk = 1 GROUP BY 1)
        |SELECT s0.source, docs_raw, toks_raw,
        | coalesce(docs_quality, 0) AS docs_quality,
        | coalesce(toks_quality, 0) AS toks_quality,
        | coalesce(docs_dedup, 0) AS docs_dedup,
        | coalesce(toks_dedup, 0) AS toks_dedup,
        | coalesce(toks_packed, 0) AS toks_packed
        |FROM s0 LEFT JOIN s1 ON s0.source = s1.source
        |LEFT JOIN s2 ON s0.source = s2.source
        |ORDER BY s0.source""".stripMargin) { (s, d) =>
      graft.api.Pipelines.tokenLedger(Tables(s, d, "documents"), "doc_id", "text", "source")
        .orderBy("source")
    },

    // The bounded bottom-k Aggregator end to end: 5 deterministic
    // example customers per segment via the portable hash order. The
    // typed Aggregator's K-bounded buffer partial-aggregates map-side
    // (O(K) state per group per task) — the scalable form of "give me
    // the same 5 examples from each stratum on any cluster".
    Q("q_udaf_4_bottomk",
      """SELECT c_mktsegment, CAST(rn AS BIGINT) AS rn, ck AS c_custkey FROM (
        | SELECT c_mktsegment, c_custkey AS ck, row_number() OVER (
        |   PARTITION BY c_mktsegment
        |   ORDER BY (c_custkey % 1000000007) * 2654435761 % 1000000007, c_custkey) AS rn
        | FROM customer) WHERE rn <= 5
        |ORDER BY c_mktsegment, rn""".stripMargin) { (s, d) =>
      graft.api.Pipelines.bottomKSample(Tables(s, d, "customer"), "c_mktsegment", "c_custkey", 5)
        .orderBy("c_mktsegment", "rn")
    },

    // Binary container sniffing by magic bytes — the first operator of
    // any multimodal ingest: route each blob by its real leading bytes
    // (PNG \x89PNG\r\n\x1a\n, RIFF), not by a trusted extension column.
    // Blobs are built deterministically from the corpus (magic ++ UTF-8
    // payload) so BOTH engines construct and sniff genuine binary.
    Q("q_mm_11_magic_sniff",
      """WITH b AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN '\x89\x50\x4E\x47\x0D\x0A\x1A\x0A'::BLOB
        |        WHEN doc_id % 3 = 1 THEN '\x52\x49\x46\x46'::BLOB
        |        ELSE ''::BLOB END
        |   || encode(substring(text, 1, CAST(10 + n_chars % 50 AS INTEGER)))) AS blob
        | FROM documents),
        |c AS (SELECT doc_id, blob,
        |  CASE WHEN substring(hex(blob), 1, 16) = '89504E470D0A1A0A' THEN 'png'
        |       WHEN substring(hex(blob), 1, 8) = '52494646' THEN 'riff'
        |       ELSE 'raw' END AS fmt
        | FROM b)
        |SELECT fmt, CAST(count(*) AS BIGINT) AS n_blobs,
        | CAST(sum(octet_length(blob)) AS BIGINT) AS sum_bytes,
        | CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM c GROUP BY fmt ORDER BY fmt""".stripMargin) { (s, d) =>
      // Spark: binary literals + concat(binary, binary) + substring on
      // BinaryType + hex() are all codegen'd builtins — the sniff runs
      // in the scan stage, the only shuffle is the 3-group agg.
      val payload = expr("substring(text, 1, cast(10 + n_chars % 50 as int))")
      val blob = concat(
        when(col("doc_id") % 3 === 0, lit(PNG))
          .when(col("doc_id") % 3 === 1, lit(RIFF))
          .otherwise(lit(Array.empty[Byte])),
        encode(payload, "UTF-8"))
      Tables(s, d, "documents")
        .select(col("doc_id"), blob.as("blob"))
        .select(col("doc_id"), col("blob"),
          when(hex(expr("substring(blob, 1, 8)")) === "89504E470D0A1A0A", "png")
            .when(hex(expr("substring(blob, 1, 4)")) === "52494646", "riff")
            .otherwise("raw").as("fmt"))
        .groupBy("fmt")
        .agg(count(lit(1)).as("n_blobs"),
          sum(length(col("blob"))).cast("long").as("sum_bytes"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("fmt")
    },

    // Range-clustered write audit: orders written via
    // repartitionByRange(8) + sortWithinPartitions, read back per file
    // (input_file_name), and the per-file [min,max] value ranges proven
    // pairwise DISJOINT — the layout that lets a min/max zone-map skip
    // whole files on value predicates. The oracle pins the invariants
    // (8 files, all rows, zero overlaps); the file-level evidence is
    // engine-side by nature.
    Q("q_sink_5_range_files",
      """SELECT CAST(8 AS BIGINT) AS n_files, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_overlaps
        |FROM orders""".stripMargin) { (s, d) =>
      val path = rangeWritePath(s, d)
      if (!new java.io.File(path).exists()) {
        Tables(s, d, "orders")
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("t2"))
          .repartitionByRange(8, col("t2"), col("o_orderkey"))
          .sortWithinPartitions(col("t2"), col("o_orderkey"))
          .write.mode("overwrite").parquet(path)
      }
      val perFile = s.read.parquet(path)
        .select(input_file_name().as("f"), col("t2"))
        .groupBy("f")
        .agg(min(col("t2")).as("mn"), max(col("t2")).as("mx"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("mn"), col("f"))
      perFile
        .select(col("mx"), col("n"), lead(col("mn"), 1).over(w).as("next_mn"))
        .agg(count(lit(1)).as("n_files"), sum(col("n")).as("n_rows"),
          sum(when(col("next_mn") < col("mx"), 1L).otherwise(0L)).as("n_overlaps"))
    }
  )
}
