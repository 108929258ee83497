package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bo): semantic-surface wave three —
  * JSON array paths, anti join with a range residual, business-day
  * calendar algebra, re-identification risk, rank-biased precision,
  * HAVING against a global scalar, and map-HOF vocabulary drift.
  *
  * Determinism discipline (§2.12): calendar math is closed-form integer
  * epoch-day algebra (no engine calendar walk), RBP discounts are
  * plan-time-quantized BIGINT weights (q_ret_1 precedent), risk terms
  * are integer-division rationals, and the HAVING predicate is an exact
  * integer cross-product — no division ever enters a comparison.
  */
object Round7oOps {

  private def D(c: Column) = c.cast("double")

  /** RBP(p=0.8) discount weights for ranks 1..20, quantized to 1e8 at
    * plan time so both engines fold exact BIGINTs (q_ret_1's ndcgW
    * pattern): w_r = (1-p)·p^(r-1). */
  private[graft] val rbpW: Seq[Long] =
    (1 to 20).map(r => math.floor(1e8 * 0.2 * math.pow(0.8, r - 1) + 0.5).toLong)
  private val rbpWSql = rbpW.mkString("[", ", ", "]")

  val all: Seq[Q] = Seq(

    // JSON array construction + path extraction: the token list of each
    // document serialized to a JSON array by the ENGINE's own writer,
    // then read back through JSONPath — the round trip a log-processing
    // pipeline does when it stages intermediate token lists as JSON.
    // Values (length, first/third element) are compared, never the raw
    // JSON text, so writer whitespace conventions cannot drift the hash.
    Q("q_json_7_token_array",
      """WITH j AS (SELECT doc_id, to_json(string_split(text, ' ')) AS ja
        | FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        | CAST(json_array_length(ja) AS BIGINT) AS n_tokens,
        | json_extract_string(ja, '$[0]') AS tok0,
        | json_extract_string(ja, '$[2]') AS tok2,
        | CAST(CASE WHEN json_extract_string(ja, '$[2]') IS NOT NULL
        |   THEN 1 ELSE 0 END AS BIGINT) AS has3
        |FROM j ORDER BY doc_id""".stripMargin) { (s, d) =>
      // to_json on ArrayType and get_json_object are both codegen'd;
      // the whole query is scan → project, no shuffle.
      Tables(s, d, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), to_json(split(col("text"), " ")).as("ja"))
        .select(col("doc_id"),
          json_array_length(col("ja")).cast("long").as("n_tokens"),
          get_json_object(col("ja"), "$[0]").as("tok0"),
          get_json_object(col("ja"), "$[2]").as("tok2"),
          get_json_object(col("ja"), "$[2]").isNotNull.cast("long").as("has3"))
        .orderBy("doc_id")
    },

    // Anti join with a RANGE residual: orders having NO line shipped
    // within 7 days — the anti-join shape where the equality key joins
    // but an inequality condition must also fail for every match.
    // Spark plans one left_anti hash join with the residual evaluated
    // inside the join; no correlated re-execution.
    Q("q_join_27_anti_range",
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_slow
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND datediff('day', o.o_orderdate, l.l_shipdate) <= 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Orders with zero lineitems also qualify (NOT EXISTS is
      // vacuously true) — left_anti preserves them identically.
      val o = Tables(s, d, "orders")
      val l = Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      o.join(l,
          col("l_orderkey") === col("o_orderkey") &&
            datediff(col("l_shipdate"), col("o_orderdate")) <= 7,
          "left_anti")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_slow"))
        .orderBy("o_orderpriority")
    },

    // Business-day lag (order → first ship) via closed-form epoch-day
    // algebra: W(e) = 5·⌊(e+3)/7⌋ + min((e+3) mod 7, 5) counts weekdays
    // in [epoch, e) (1970-01-01 was a Thursday → the +3 shift anchors
    // Monday at 0), so biz = W(e2) − W(e1) — pure integer arithmetic,
    // identical on any engine, no calendar-walking UDF. The distance is
    // SIGNED (W is antisymmetric): the fixture's ship dates are not
    // correlated with their order dates, so negative lags are real data.
    Q("q_time_28_bizdays",
      """WITH fs AS (SELECT l_orderkey, min(l_shipdate) AS ship0 FROM lineitem GROUP BY 1),
        |t AS (SELECT strftime(o.o_orderdate, '%Y-%m') AS ym,
        |  datediff('day', DATE '1970-01-01', o.o_orderdate) AS e1,
        |  datediff('day', DATE '1970-01-01', fs.ship0) AS e2
        | FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey),
        |b AS (SELECT ym,
        |  (5 * ((e2 + 3) // 7) + least((e2 + 3) % 7, 5))
        |   - (5 * ((e1 + 3) // 7) + least((e1 + 3) % 7, 5)) AS biz
        | FROM t)
        |SELECT ym, CAST(count(*) AS BIGINT) AS n_orders,
        | floor(CAST(sum(biz) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS avg_biz_days,
        | CAST(max(biz) AS BIGINT) AS max_biz_days
        |FROM b GROUP BY ym ORDER BY ym""".stripMargin) { (s, d) =>
      val fs = Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("ship0"))
      Tables(s, d, "orders")
        .join(fs, col("o_orderkey") === col("l_orderkey"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          graft.api.Pipelines.weekdaysBetween(col("o_orderdate"), col("ship0")).as("biz"))
        .groupBy("ym")
        .agg(count(lit(1)).as("n_orders"),
          Num.round(D(sum(col("biz"))) / count(lit(1)), 6).as("avg_biz_days"),
          max(col("biz")).cast("long").as("max_biz_days"))
        .orderBy("ym")
    },

    // Prosecutor re-identification risk over the (nation, segment) QI
    // release: per nation, how many QI groups, how many singletons
    // (k=1 → certain re-id), the expected risk Σ 1/k and the max 1/k.
    // Risk rationals are integer divisions (1e9//k, 1e6//k) so the sum
    // is an exact BIGINT fold — the q_priv family's quantization rule.
    Q("q_priv_8_reid_risk",
      """WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS k
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        | floor(CAST(sum(1000000000 // k) AS DOUBLE) / 1000 + 0.5) / 1000000 AS exp_reid,
        | CAST(1000000 // min(k) AS DOUBLE) / 1000000 AS max_risk
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // The QI aggregate is catalog-bounded (25 nations × 5 segments);
      // at 100 TB the single shuffle is the group count itself.
      graft.api.Pipelines.reidRisk(Tables(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"),
          "c_nationkey")
        .withColumnRenamed("c_nationkey", "nationkey")
        .orderBy("nationkey")
    },

    // Rank-biased precision (p=0.8): the user-model retrieval metric
    // whose discount is a geometric "keep reading" probability —
    // complements q_ret_1's log-discount nDCG on the same ranking
    // (n_chars DESC per source, lang='en' relevance). Weights are
    // plan-time 1e8-quantized BIGINTs; one division at emission.
    Q("q_ret_11_rbp",
      s"""WITH r AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
         | FROM documents)
         |SELECT source,
         | CAST(sum(CASE WHEN rel = 1 AND rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top20,
         | floor(CAST(sum(CASE WHEN rel = 1 AND rn <= 20
         |    THEN ($rbpWSql)[CAST(rn AS INT)] ELSE 0 END) AS DOUBLE)
         |   / 100 + 0.5) / 1000000 AS rbp
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      graft.api.Pipelines.rbp(Tables(s, d, "documents"), "source", "n_chars", "doc_id",
          col("lang") === "en")
        .orderBy("source")
    },

    // HAVING against a global scalar without division: segments whose
    // mean balance beats the table mean, decided by the exact integer
    // cross-product s·N > S·n (valid since n, N > 0) — the pattern that
    // keeps group-vs-global comparisons hash-stable at any scale.
    Q("q_sub_8_having_agg",
      """WITH c2 AS (SELECT c_mktsegment,
        |  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS b2 FROM customer),
        |seg AS (SELECT c_mktsegment, CAST(sum(b2) AS BIGINT) AS sm,
        |  CAST(count(*) AS BIGINT) AS n FROM c2 GROUP BY 1),
        |g AS (SELECT CAST(sum(b2) AS BIGINT) AS s_all, CAST(count(*) AS BIGINT) AS n_all FROM c2)
        |SELECT c_mktsegment, n AS n_customers,
        | floor(CAST(sm AS DOUBLE) / 100 / n * 1000000 + 0.5) / 1000000 AS avg_bal
        |FROM seg, g WHERE sm * n_all > s_all * n
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val c2 = Tables(s, d, "customer")
        .select(col("c_mktsegment"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("b2"))
      val seg = c2.groupBy("c_mktsegment")
        .agg(sum("b2").as("sm"), count(lit(1)).as("n"))
      val g = c2.agg(sum("b2").as("s_all"), count(lit(1)).as("n_all"))
      seg.crossJoin(broadcast(g))
        .filter(col("sm") * col("n_all") > col("s_all") * col("n"))
        .select(col("c_mktsegment"), col("n").as("n_customers"),
          Num.round(D(col("sm")) / 100 / col("n"), 6).as("avg_bal"))
        .orderBy("c_mktsegment")
    },

    // Vocabulary drift between two sources via genuine map HOFs: each
    // source's token→count map built once, then map_filter /
    // map_contains_key / map_zip_with compute the shared-key overlap
    // and the L1 count distance — the "did this container's language
    // shift" audit. The oracle states the same facts as a FULL OUTER
    // join of the two count tables.
    Q("q_map_6_vocab_drift",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |c AS (SELECT source, t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2),
        |a AS (SELECT t, n FROM c WHERE source = 'src0'),
        |b AS (SELECT t, n FROM c WHERE source = 'src1')
        |SELECT
        | CAST(count(CASE WHEN a.t IS NOT NULL AND b.t IS NOT NULL THEN 1 END) AS BIGINT) AS n_shared,
        | CAST(count(CASE WHEN b.t IS NULL THEN 1 END) AS BIGINT) AS n_only_a,
        | CAST(count(CASE WHEN a.t IS NULL THEN 1 END) AS BIGINT) AS n_only_b,
        | CAST(sum(CASE WHEN a.t IS NOT NULL AND b.t IS NOT NULL
        |   THEN abs(a.n - b.n) ELSE 0 END) AS BIGINT) AS l1_shared
        |FROM a FULL JOIN b ON a.t = b.t""".stripMargin) { (s, d) =>
      graft.api.Pipelines.vocabDrift(Tables(s, d, "documents"), "source", "text", "src0", "src1")
    }
  )
}
