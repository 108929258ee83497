package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11ae): user-scoring and
  * cross-table data-quality analytics — RFM quintile segmentation,
  * inclusion-dependency (FK) profiling, an order/lineitem
  * reconciliation audit, the event-mix Markov stationary distribution,
  * and per-user behavioral entropy.
  *
  * Determinism discipline (§2.12): quintile boundaries and rankings
  * order on exact integers with user-id tie-breaks; containment and
  * reconciliation ratios are single IEEE divisions of exact integer
  * counts/cents; the Markov power steps and entropy terms re-quantize
  * to integers before any further combination.
  */
object Round5vOps {

  val all: Seq[Q] = Seq(

    // RFM segmentation: recency/frequency/monetary quintiles per user,
    // then the population of each composite segment — the classic
    // marketing cut ("511 = lapsed big spenders") as three exact
    // integer rankings.
    Q("q_stream_27_rfm",
      """WITH u AS (SELECT user_id,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
        |  CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sc AS (SELECT user_id,
        |  ntile(5) OVER (ORDER BY last_us DESC, user_id) AS r,
        |  ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
        |  ntile(5) OVER (ORDER BY cents DESC, user_id) AS m
        | FROM u)
        |SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM sc GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin) { (s, d) =>
      // All three ntiles order on exact integers (micros, counts,
      // cents) with user_id as the total-order tie-break, so segment
      // assignment is engine-independent. One events pass; the ranking
      // runs over the user aggregate.
      val u = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max(expr("unix_micros(ts)")).as("last_us"),
          count(lit(1)).as("freq"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      graft.api.Pipelines.rfmSegments(u, "user_id", "last_us", "freq", "cents")
        .orderBy("r", "f", "m")
    },

    // Inclusion-dependency profile: containment of each fact FK in its
    // dimension key — the referential-integrity sweep as ONE query
    // (q_dq_2 checks a single pair; this profiles the whole star).
    Q("q_dq_28_inclusion",
      """WITH pairs AS (
        | SELECT 'lineitem.l_suppkey->supplier' AS fk,
        |  (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM lineitem) AS n_distinct,
        |  (SELECT CAST(count(DISTINCT l_suppkey) AS BIGINT) FROM lineitem
        |    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier)) AS n_contained
        | UNION ALL SELECT 'lineitem.l_partkey->part',
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem),
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part))
        | UNION ALL SELECT 'lineitem.l_orderkey->orders',
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem),
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem
        |    WHERE l_orderkey IN (SELECT o_orderkey FROM orders))
        | UNION ALL SELECT 'orders.o_custkey->customer',
        |  (SELECT count(DISTINCT o_custkey) FROM orders),
        |  (SELECT count(DISTINCT o_custkey) FROM orders
        |    WHERE o_custkey IN (SELECT c_custkey FROM customer)))
        |SELECT fk, n_distinct, n_contained,
        | floor(CAST(n_contained AS DOUBLE) / n_distinct * 1000000 + 0.5) / 1000000 AS containment
        |FROM pairs ORDER BY fk""".stripMargin) { (s, d) =>
      // Each pair = one distinct on the fact side + ONE left-outer
      // broadcast join against the dimension's (unique) primary key,
      // then a single aggregate reading both counts off the same pass:
      // n_distinct = count(*), n_contained = count(matched key) — the
      // key is unique, so the outer join cannot duplicate, and the
      // count of non-null matches IS the semi-join cardinality. (The
      // r13 form checkpointed the distinct table and ran a second
      // branch for the semi-join count: one materialization + two jobs
      // per pair for numbers one pass already carries.) The FK side
      // never carries payload columns into the shuffle. Containment <
      // 1 localizes WHICH relationship leaks orphans.
      def pair(fkName: String, fact: String, fkCol: String, dim: String, dimKey: String) =
        graft.api.Pipelines.containment(Tables(s, d, fact), fkCol, Tables(s, d, dim), dimKey)
          .select(lit(fkName).as("fk"), col("n_distinct"), col("n_contained"), col("containment"))
      pair("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey")
        .union(pair("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"))
        .union(pair("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"))
        .union(pair("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
        .orderBy("fk")
    },

    // Reconciliation audit: does o_totalprice equal the order's summed
    // lineitem revenue? Violation rate + the error distribution in
    // relative-error buckets — the cross-table consistency rule a
    // warehouse monitors nightly.
    Q("q_dq_29_balance",
      """WITH li AS (SELECT l_orderkey,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS li_cents
        | FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents, li_cents
        | FROM orders JOIN li ON o_orderkey = l_orderkey),
        |b AS (SELECT CASE
        |   WHEN 100 * abs(o_cents - li_cents) <= o_cents THEN 'within_1pct'
        |   WHEN 10 * abs(o_cents - li_cents) <= o_cents THEN 'within_10pct'
        |   WHEN 2 * abs(o_cents - li_cents) <= o_cents THEN 'within_50pct'
        |   ELSE 'over_50pct' END AS bucket
        | FROM j)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        | floor(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM b) * 1000000 + 0.5) / 1000000 AS share
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
      // Bucket edges are exact integer cross-multiplications
      // (100·|err| ≤ total ⇔ rel err ≤ 1%) — no float division decides
      // membership. One lineitem aggregation + one orderkey join; the
      // bucket histogram is aggregate-sized.
      val li = Tables(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
          .cast("long")).as("li_cents"))
      val j = Tables(s, d, "orders")
        .select(col("o_orderkey"), floor(col("o_totalprice") * 100 + 0.5).cast("long").as("o_cents"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
      val err = abs(col("o_cents") - col("li_cents"))
      val b = j.select(
        when(lit(100) * err <= col("o_cents"), "within_1pct")
          .when(lit(10) * err <= col("o_cents"), "within_10pct")
          .when(lit(2) * err <= col("o_cents"), "within_50pct")
          .otherwise("over_50pct").as("bucket"))
        .localCheckpoint()
      val tot = b.agg(count(lit(1)).as("tot"))
      b.groupBy("bucket").agg(count(lit(1)).as("n_orders"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_orders"),
          (floor(col("n_orders").cast("double") / col("tot") * 1000000 + 0.5) / 1000000)
            .as("share"))
        .orderBy("bucket")
    },

    // Stationary event mix: three power steps of the event-type Markov
    // chain from the observed mix — where the session process settles
    // vs what the raw event histogram shows (q_stream_13 gives the
    // matrix; this gives its equilibrium).
    Q("q_stream_28_stationary",
      """WITH seq AS (SELECT user_id, event_type, ts, event_id,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        | FROM events),
        |t AS (SELECT event_type AS a, nxt AS b, CAST(count(*) AS BIGINT) AS c
        | FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |rowsum AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM t GROUP BY 1),
        |p AS (SELECT t.a, t.b, CAST(floor(CAST(t.c AS DOUBLE) / rowsum.ra * 1000000 + 0.5) AS BIGINT) AS p6
        | FROM t JOIN rowsum ON t.a = rowsum.a),
        |m0 AS (SELECT event_type AS st, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |v0 AS (SELECT st, CAST(floor(CAST(c AS DOUBLE) / (SELECT sum(c) FROM m0) * 1000000 + 0.5) AS BIGINT) AS v FROM m0),
        |v1 AS (SELECT p.b AS st, CAST(floor(CAST(sum(v0.v * p.p6) AS DOUBLE) / 1000000 + 0.5) AS BIGINT) AS v
        | FROM v0 JOIN p ON v0.st = p.a GROUP BY 1),
        |v2 AS (SELECT p.b AS st, CAST(floor(CAST(sum(v1.v * p.p6) AS DOUBLE) / 1000000 + 0.5) AS BIGINT) AS v
        | FROM v1 JOIN p ON v1.st = p.a GROUP BY 1),
        |v3 AS (SELECT p.b AS st, CAST(floor(CAST(sum(v2.v * p.p6) AS DOUBLE) / 1000000 + 0.5) AS BIGINT) AS v
        | FROM v2 JOIN p ON v2.st = p.a GROUP BY 1)
        |SELECT v0.st AS event_type, v0.v / 1000000.0 AS observed_mix,
        | v3.v / 1000000.0 AS stationary_mix,
        | floor((v3.v - v0.v) / 1000000.0 * 1000000 + 0.5) / 1000000 AS shift
        |FROM v0 JOIN v3 ON v0.st = v3.st ORDER BY event_type""".stripMargin) { (s, d) =>
      // Transition probabilities quantize to 1e-6 integers once; each
      // power step is an integer matrix-vector product re-quantized
      // before the next (the q_sim_28 discipline on a 5×5 matrix). The
      // sequence derivation is ONE lead() window over (user, time).
      val seq = Tables(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
          lead("event_type", 1).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")).as("nxt"))
      val t = seq.filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("a"), col("nxt").as("b"))
        .agg(count(lit(1)).as("c"))
      val rowsum = t.groupBy(col("a").as("ra_a")).agg(sum("c").as("ra"))
      val p = t.join(broadcast(rowsum), col("a") === col("ra_a"))
        .select(col("a"), col("b"),
          floor(col("c").cast("double") / col("ra") * 1000000 + 0.5).cast("long").as("p6"))
        .localCheckpoint()
      val m0 = Tables(s, d, "events").groupBy(col("event_type").as("st")).agg(count(lit(1)).as("c"))
      val m0t = m0.agg(sum("c").as("tot"))
      val v0 = m0.crossJoin(broadcast(m0t))
        .select(col("st"), floor(col("c").cast("double") / col("tot") * 1000000 + 0.5)
          .cast("long").as("v"))
        .localCheckpoint()
      def step(v: org.apache.spark.sql.DataFrame) =
        v.join(broadcast(p), col("st") === col("a"))
          .groupBy(col("b").as("st2"))
          .agg(floor(sum(col("v") * col("p6")).cast("double") / 1000000 + 0.5).cast("long").as("v"))
          .withColumnRenamed("st2", "st")
      val v3 = step(step(step(v0)))
      v0.select(col("st"), col("v").as("v0"))
        .join(v3.select(col("st").as("st3"), col("v").as("v3")), col("st") === col("st3"))
        .select(col("st").as("event_type"), (col("v0") / 1000000.0).as("observed_mix"),
          (col("v3") / 1000000.0).as("stationary_mix"),
          round((col("v3") - col("v0")) / 1000000.0, 6).as("shift"))
        .orderBy("event_type")
    },

    // Per-user behavioral entropy: how diverse is each user's event mix
    // (0 bits = monomaniac, log2(5) ≈ 2.32 = uniform)? Top 10 most
    // diverse users + the population mean for context.
    Q("q_stream_29_user_entropy",
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |h AS (SELECT c.user_id,
        |  CAST(sum(CAST(floor(-(CAST(c.c AS DOUBLE) / n.n) * ln(CAST(c.c AS DOUBLE) / n.n) / ln(2.0) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS h6
        | FROM c JOIN n ON c.user_id = n.user_id GROUP BY 1),
        |m AS (SELECT CAST(floor(CAST(sum(h6) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mean_h6 FROM h),
        |r AS (SELECT user_id, h6, row_number() OVER (ORDER BY h6 DESC, user_id) AS rn FROM h)
        |SELECT user_id, h6 / 1000000.0 AS h_bits, mean_h6 / 1000000.0 AS pop_mean_bits
        |FROM r, m WHERE rn <= 10 ORDER BY rn""".stripMargin) { (s, d) =>
      // Per-(user, type) share terms −p·log2(p) quantize to 1e-6
      // integers BEFORE the ≤5-term per-user sum (the house entropy
      // pattern), so ranking and the population mean are exact integer
      // arithmetic.
      val c = Tables(s, d, "events").groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val n = c.groupBy(col("user_id").as("nu")).agg(sum("c").as("n"))
      val pr = col("c").cast("double") / col("n")
      val h = c.join(broadcast(n), col("user_id") === col("nu"))
        .select(col("user_id"),
          floor(-pr * log(pr) / log(lit(2.0)) * 1000000 + 0.5).cast("long").as("t6"))
        .groupBy("user_id").agg(sum("t6").as("h6"))
      val m = h.agg(floor(sum("h6").cast("double") / count(lit(1)) + 0.5).cast("long").as("mean_h6"))
      // TakeOrdered top-10 over the user-scale entropy table, then the
      // rank window over just 10 rows
      h.orderBy(col("h6").desc, col("user_id")).limit(10)
        .withColumn("rn", row_number().over(Window.orderBy(col("h6").desc, col("user_id"))))
        .crossJoin(broadcast(m))
        .select(col("user_id"), (col("h6") / 1000000.0).as("h_bits"),
          (col("mean_h6") / 1000000.0).as("pop_mean_bits"), col("rn"))
        .orderBy("rn").drop("rn")
    }
  )
}
