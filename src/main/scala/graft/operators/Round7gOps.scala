package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bg): pipeline sharding balance,
  * one-step logistic regression, Expected Reciprocal Rank, a map-typed
  * value histogram, and an exact-integer-moments typed Aggregator.
  *
  * Determinism discipline (§2.12): shard assignment uses the portable
  * multiplicative hash (q_scan_13); the logit step is closed-form over
  * exact integer sums (one Newton step from β=0 needs no exp);
  * ERR's per-rank terms quantize 1e-9 before the group sum; the
  * Aggregator buffers exact BIGINT (n, Σ, Σ²) so merge order is
  * irrelevant by construction.
  */
object Round7gOps {

  /** Typed Aggregator with an EXACT integer buffer (n, Σv, Σv²): the
    * merge is BIGINT addition — associative, commutative, and
    * overflow-safe for whole-dollar order values — so the result is
    * partition-order-independent by construction (a Welford double
    * buffer would not be). Input values must be pre-quantized longs.
    */
  object ExactMoments
      extends Aggregator[Long, (Long, Long, Long), (Long, Long, Long)] {
    def zero: (Long, Long, Long) = (0L, 0L, 0L)
    def reduce(b: (Long, Long, Long), v: Long): (Long, Long, Long) =
      (b._1 + 1, b._2 + v, b._3 + v * v)
    def merge(x: (Long, Long, Long), y: (Long, Long, Long)): (Long, Long, Long) =
      (x._1 + y._1, x._2 + y._2, x._3 + y._3)
    def finish(r: (Long, Long, Long)): (Long, Long, Long) = r
    def bufferEncoder = Encoders.product[(Long, Long, Long)]
    def outputEncoder = Encoders.product[(Long, Long, Long)]
  }

  val all: Seq[Q] = Seq(

    // Training-shard balance: split the corpus into 16 shards by the
    // portable doc_id hash and measure token imbalance — the skew
    // check before a distributed tokenization/training job (a 20%
    // heavy shard is a 20% straggler at every epoch).
    Q("q_pipe_9_shard_balance",
      """WITH s AS (SELECT ((doc_id % 1000000007) * 2654435761 % 1000000007) % 16 AS shard,
        |  CAST(n_chars // 5 AS BIGINT) AS toks FROM documents),
        |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS toks FROM s GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_shards,
        | CAST(sum(n_docs) AS BIGINT) AS n_docs,
        | CAST(min(toks) AS BIGINT) AS min_tokens,
        | CAST(max(toks) AS BIGINT) AS max_tokens,
        | floor(CAST(sum(toks) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS mean_tokens,
        | floor((CAST(max(toks) AS DOUBLE) - min(toks))
        |   / (CAST(sum(toks) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS imbalance
        |FROM g""".stripMargin) { (s, d) =>
      graft.api.Pipelines.shardBalance(Tables(s, d, "documents"), "doc_id", expr("n_chars div 5"))
    },

    // One Newton step of logistic regression P(returnflag='R' | qty)
    // from β=0: at the zero init the update is the CLOSED FORM
    // 4·(XᵀX)⁻¹Xᵀ(y−½) — no sigmoid, no iteration, everything rational
    // in exact sums. The direction/scale readout that says whether
    // quantity predicts returns before anyone pays for full IRLS.
    Q("q_ml_12_logit_step",
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS sy,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sxy
        | FROM lineitem)
        |SELECT n, sy AS n_returned,
        | floor(CAST(sy AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS base_rate,
        | floor(4.0 * (CAST(sxx AS DOUBLE) * (CAST(sy AS DOUBLE) - CAST(n AS DOUBLE) / 2)
        |   - CAST(sx AS DOUBLE) * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / 2))
        |   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * 1000000 + 0.5) / 1000000 AS beta0,
        | floor(4.0 * (CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / 2)
        |   - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) - CAST(n AS DOUBLE) / 2))
        |   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * 1000000 + 0.5) / 1000000 AS beta1
        |FROM m""".stripMargin) { (s, d) =>
      graft.api.Pipelines.logitStep(Tables(s, d, "lineitem"), col("l_quantity").cast("long"),
          col("l_returnflag") === "R")
        .withColumnRenamed("n_positive", "n_returned")
    },

    // Expected Reciprocal Rank @10 per source: cascade model over the
    // q_ret_1 ranking (rel = en, stop-probability ½ per relevant hit).
    // ERR discounts results BEHIND a relevant one — the "user already
    // found it" behavior nDCG's static discounts can't express.
    Q("q_ret_10_err",
      """WITH r AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        | FROM documents),
        |t AS (SELECT source, rel, rn,
        |  CAST(coalesce(sum(rel) OVER (PARTITION BY source ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS rel_before
        | FROM r WHERE rn <= 10),
        |c AS (SELECT source,
        |  CAST(floor(CAST(rel AS DOUBLE) * 0.5 * power(0.5, rel_before) / rn
        |    * 1000000000 + 0.5) AS BIGINT) AS term9
        | FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_ranked,
        | floor(CAST(sum(term9) AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS err10
        |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // Stop probabilities are powers of ½ (exact dyadics); each
      // rank's term quantizes 1e-9 before the ≤10-term group sum, so
      // aggregation order can't move the result.
      val byRank = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      val before = Window.partitionBy("source").orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "documents")
        .select(col("source"), when(col("lang") === "en", 1L).otherwise(0L).as("rel"),
          row_number().over(byRank).cast("long").as("rn"))
        .filter(col("rn") <= 10)
        .withColumn("rel_before", coalesce(sum("rel").over(before), lit(0L)))
        .select(col("source"),
          floor(col("rel").cast("double") * 0.5 * pow(lit(0.5), col("rel_before"))
            / col("rn") * 1000000000L + 0.5).cast("long").as("term9"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_ranked"),
          Num.round(sum("term9").cast("double") / 1e9, 6).as("err10"))
        .orderBy("source")
    },

    // Map-typed value histogram: per event type, a $50-bucket count
    // map built with map_from_entries, projected through the
    // order-independent facts discipline (sorted key list + fixed
    // lookups) that makes a map column oracle-comparable at all.
    Q("q_map_4_value_hist",
      """WITH b AS (SELECT event_type,
        |  least(CAST(floor(value / 50) AS BIGINT), 6) AS bucket FROM events),
        |c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2)
        |SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_buckets,
        | string_agg(CAST(bucket AS VARCHAR), ',' ORDER BY bucket) AS buckets_sorted,
        | CAST(max(CASE WHEN bucket = 0 THEN n END) AS BIGINT) AS n_low,
        | CAST(max(CASE WHEN bucket = 6 THEN n END) AS BIGINT) AS n_high
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // The map is real (map_from_entries over collected buckets); the
      // PROJECTION is the engine-neutral part: map key iteration order
      // is private, so the declared output reads sorted keys +
      // element_at lookups — q_map_1's contract.
      val ents = Tables(s, d, "events")
        .select(col("event_type"),
          least(floor(col("value") / 50).cast("long"), lit(6L)).as("bucket"))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(map_from_entries(array_sort(collect_list(struct(col("bucket"), col("n")))))
          .as("hist"))
      ents.select(col("event_type"),
          size(col("hist")).cast("long").as("n_buckets"),
          array_join(transform(array_sort(map_keys(col("hist"))), _.cast("string")), ",")
            .as("buckets_sorted"),
          element_at(col("hist"), lit(0L)).as("n_low"),
          element_at(col("hist"), lit(6L)).as("n_high"))
        .orderBy("event_type")
    },

    // Exact-moments typed Aggregator: per order priority, mean and
    // population variance of the whole-dollar order value from a
    // custom Aggregator whose buffer is exact BIGINT (n, Σ, Σ²) — the
    // UDAF surface proven against the oracle's explicit-sum formula
    // (NOT var_pop: same numbers by construction, not by luck).
    Q("q_udaf_3_moments",
      """WITH v AS (SELECT o_orderpriority,
        |  CAST(floor(o_totalprice + 0.5) AS BIGINT) AS dollars FROM orders),
        |m AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dollars) AS BIGINT) AS sv,
        |  CAST(sum(dollars * dollars) AS BIGINT) AS svv FROM v GROUP BY 1)
        |SELECT o_orderpriority, n,
        | floor(CAST(sv AS DOUBLE) / n * 10000 + 0.5) / 10000 AS mean_dollars,
        | floor((CAST(n AS DOUBLE) * svv - CAST(sv AS DOUBLE) * sv)
        |   / (CAST(n AS DOUBLE) * n) * 100 + 0.5) / 100 AS var_pop
        |FROM m ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val moments = udaf(ExactMoments)
      Tables(s, d, "orders")
        .select(col("o_orderpriority"),
          floor(col("o_totalprice") + 0.5).cast("long").as("dollars"))
        .groupBy("o_orderpriority")
        .agg(moments(col("dollars")).as("m"))
        .select(col("o_orderpriority"),
          col("m._1").as("n"),
          Num.round(col("m._2").cast("double") / col("m._1"), 4).as("mean_dollars"),
          Num.round((col("m._1").cast("double") * col("m._3")
            - col("m._2").cast("double") * col("m._2"))
            / (col("m._1").cast("double") * col("m._1")), 2).as("var_pop"))
        .orderBy("o_orderpriority")
    }
  )
}
