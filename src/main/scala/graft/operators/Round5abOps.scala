package graft.operators

import graft.Q
import graft.functions.VectorFunctions.Duck
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11ak): training-mixture rebalancing,
  * deterministic farthest-point seeding, second-digit Benford, and cart
  * abandonment.
  *
  * Determinism discipline (§2.12): keep-probabilities derive from
  * integer counts through fixed IEEE expressions quantized 1e-6;
  * farthest-point argmaxes rank on quantized integer distances with id
  * tie-breaks; all digit/abandonment statistics are exact integers.
  */
object Round5abOps {

  val all: Seq[Q] = Seq(

    // Mixture rebalancing: per-language keep-probabilities that move
    // the corpus toward a UNIFORM language mix with the largest
    // possible sample (scale so the rarest language keeps everything) —
    // the closed-form downsampling plan every multilingual training-mix
    // pipeline computes before it samples.
    Q("q_pipe_3_mixture_rebalance",
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, CAST(min(n) AS BIGINT) AS min_n FROM c)
        |SELECT lang, n AS observed_docs,
        | floor(CAST(n AS DOUBLE) / t.total * 1000000 + 0.5) / 1000000 AS observed_share,
        | floor(CAST(t.min_n AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS keep_prob,
        | CAST(floor(CAST(t.min_n AS DOUBLE) / n * n + 0.5) AS BIGINT) AS expected_kept
        |FROM c, t ORDER BY lang""".stripMargin) { (s, d) =>
      // keep_prob(lang) = min_count / count — exactly uniformizing
      // (expected kept ≈ min_count per language), rarest language at
      // 1.0. Pure counts + one IEEE ratio per language; the actual
      // sampling step reuses q_scan_13's deterministic hash machinery.
      val c = Tables(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
      val t = c.agg(sum("n").as("total"), min("n").as("min_n"))
      c.crossJoin(broadcast(t))
        .select(col("lang"), col("n").as("observed_docs"),
          (floor(col("n").cast("double") / col("total") * 1000000 + 0.5) / 1000000)
            .as("observed_share"),
          (floor(col("min_n").cast("double") / col("n") * 1000000 + 0.5) / 1000000)
            .as("keep_prob"),
          floor(col("min_n").cast("double") / col("n") * col("n") + 0.5).cast("long")
            .as("expected_kept"))
        .orderBy("lang")
    },

    // Deterministic farthest-point seeding (the k-means++ skeleton
    // without RNG): seed1 = vec 0, seed2 = farthest from seed1,
    // seed3 = farthest by MIN distance to both — plus the coverage
    // radius after 3 seeds (how far the worst vector sits).
    Q("q_sim_31_farthest_seeds", {
      val d2 = (a: String, b: String) => Duck.sqDist(a, b)
      s"""WITH s1 AS (SELECT embedding AS e1 FROM embeddings WHERE vec_id = 0),
         |d1 AS (SELECT vec_id, CAST(floor((${d2("embedding", "s1.e1")}) * 1000000 + 0.5) AS BIGINT) AS dd
         | FROM embeddings, s1),
         |pick2 AS (SELECT vec_id FROM d1 ORDER BY dd DESC, vec_id LIMIT 1),
         |s2 AS (SELECT embedding AS e2 FROM embeddings WHERE vec_id = (SELECT vec_id FROM pick2)),
         |d12 AS (SELECT d1.vec_id,
         |  least(d1.dd, CAST(floor((${d2("e.embedding", "s2.e2")}) * 1000000 + 0.5) AS BIGINT)) AS dd
         | FROM d1 JOIN embeddings e ON d1.vec_id = e.vec_id, s2),
         |pick3 AS (SELECT vec_id FROM d12 ORDER BY dd DESC, vec_id LIMIT 1),
         |s3 AS (SELECT embedding AS e3 FROM embeddings WHERE vec_id = (SELECT vec_id FROM pick3)),
         |d123 AS (SELECT d12.vec_id,
         |  least(d12.dd, CAST(floor((${d2("e.embedding", "s3.e3")}) * 1000000 + 0.5) AS BIGINT)) AS dd
         | FROM d12 JOIN embeddings e ON d12.vec_id = e.vec_id, s3)
         |SELECT CAST(0 AS BIGINT) AS seed1,
         | (SELECT CAST(vec_id AS BIGINT) FROM pick2) AS seed2,
         | (SELECT CAST(vec_id AS BIGINT) FROM pick3) AS seed3,
         | floor(sqrt((SELECT max(dd) FROM d123) / 1000000.0) * 10000 + 0.5) / 10000 AS coverage_radius
         |FROM (SELECT 1) one""".stripMargin
    }) { (s, d) =>
      // Each hop is one broadcast-seed distance projection + an integer
      // argmax (quantized distance, vec_id tie-break) — the same
      // zero-self-join discipline as the IVF assignment; 3 corpus
      // passes total, each O(n·dim).
      graft.expressions.VectorExpressions.register(s)
      val e = Tables(s, d, "embeddings").localCheckpoint()
      def seedVec(id: org.apache.spark.sql.DataFrame) =
        broadcast(e.join(id, Seq("vec_id"), "left_semi")
          .select(col("embedding").as("se")))
      val s1 = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("se")))
      val d1 = e.crossJoin(s1)
        .select(col("vec_id"),
          floor(graft.functions.VectorFunctions.sqDist(col("embedding"), col("se")) * 1000000 + 0.5).cast("long").as("dd"))
        .localCheckpoint()
      val pick2 = d1.orderBy(col("dd").desc, col("vec_id")).limit(1).select("vec_id")
      val s2 = seedVec(pick2)
      val d12 = d1.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .crossJoin(s2)
        .select(col("vec_id"),
          least(col("dd"), floor(graft.functions.VectorFunctions.sqDist(col("embedding"), col("se")) * 1000000 + 0.5).cast("long"))
            .as("dd"))
        .localCheckpoint()
      val pick3 = d12.orderBy(col("dd").desc, col("vec_id")).limit(1).select("vec_id")
      val s3 = seedVec(pick3)
      val d123 = d12.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .crossJoin(s3)
        .select(col("vec_id"),
          least(col("dd"), floor(graft.functions.VectorFunctions.sqDist(col("embedding"), col("se")) * 1000000 + 0.5).cast("long"))
            .as("dd"))
      pick2.select(col("vec_id").as("seed2"))
        .crossJoin(pick3.select(col("vec_id").as("seed3")))
        .crossJoin(d123.agg(max("dd").as("mx")))
        .select(lit(0L).as("seed1"), col("seed2"), col("seed3"),
          (floor(sqrt(col("mx") / 1000000.0) * 10000 + 0.5) / 10000).as("coverage_radius"))
    },

    // Second-digit Benford: the digit law sharpens on SECOND digits
    // (first digits need multiple orders of magnitude; second digits
    // converge faster) — complements q_dq_16's first-digit test and
    // q_dq_23's last-digit uniformity.
    Q("q_dq_32_benford2",
      """WITH d2 AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 2, 1) AS BIGINT) AS dig
        | FROM orders WHERE o_totalprice >= 10),
        |c AS (SELECT dig, CAST(count(*) AS BIGINT) AS n FROM d2 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT dig, n, floor(CAST(n AS DOUBLE) / t.total * 1000000 + 0.5) / 1000000 AS observed,
        | floor((ln(1.0 + 1.0 / (10 + dig)) + ln(1.0 + 1.0 / (20 + dig)) + ln(1.0 + 1.0 / (30 + dig))
        |      + ln(1.0 + 1.0 / (40 + dig)) + ln(1.0 + 1.0 / (50 + dig)) + ln(1.0 + 1.0 / (60 + dig))
        |      + ln(1.0 + 1.0 / (70 + dig)) + ln(1.0 + 1.0 / (80 + dig)) + ln(1.0 + 1.0 / (90 + dig)))
        |   / ln(10.0) * 1000000 + 0.5) / 1000000 AS benford
        |FROM c, t ORDER BY dig""".stripMargin) { (s, d) =>
      // The expected second-digit law Σ_k log10(1 + 1/(10k+d)) is a
      // FIXED 9-term expression per digit — identical transcendental
      // chain on both engines over plan-constant rationals; observed
      // shares are exact counts.
      val d2 = Tables(s, d, "orders").filter(col("o_totalprice") >= 10)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 2, 1)
          .cast("long").as("dig"))
      val c = d2.groupBy("dig").agg(count(lit(1)).as("n"))
      val t = c.agg(sum("n").as("total"))
      val benford = (1 to 9).map(k => log(lit(1.0) + lit(1.0) / (lit(k * 10) + col("dig"))))
        .reduce(_ + _) / log(lit(10.0))
      c.crossJoin(broadcast(t))
        .select(col("dig"), col("n"),
          (floor(col("n").cast("double") / col("total") * 1000000 + 0.5) / 1000000).as("observed"),
          (floor(benford * 1000000 + 0.5) / 1000000).as("benford"))
        .orderBy("dig")
    },

    // Cart abandonment: users whose LAST click has no purchase within
    // the following 24h, by weekday of that click — the drop-off
    // readout (q_stream_19 times successful conversions; this counts
    // the failures).
    Q("q_stream_31_abandonment",
      """WITH lastc AS (SELECT user_id, max(epoch_us(ts)) AS c_us
        | FROM events WHERE event_type = 'click' GROUP BY 1),
        |conv AS (SELECT lastc.user_id, lastc.c_us,
        |  CAST(max(CASE WHEN e.event_type = 'purchase' AND epoch_us(e.ts) > lastc.c_us
        |    AND epoch_us(e.ts) <= lastc.c_us + 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS converted
        | FROM lastc JOIN events e ON lastc.user_id = e.user_id
        | GROUP BY 1, 2)
        |SELECT CAST((c_us // 86400000000) % 7 AS BIGINT) AS weekday,
        | CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(1 - converted) AS BIGINT) AS n_abandoned,
        | floor(CAST(sum(1 - converted) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS abandon_rate
        |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // One events pass finds each user's last click; the 24h
      // conversion probe rides the SAME user-keyed join (no window over
      // the raw fact); weekday arithmetic is exact integer day math.
      val lastc = Tables(s, d, "events").filter(col("event_type") === "click")
        .groupBy("user_id").agg(max(expr("unix_micros(ts)")).as("c_us"))
      val ev = Tables(s, d, "events")
        .select(col("user_id").as("eu"), col("event_type"), expr("unix_micros(ts)").as("us"))
      graft.streaming.Streams.abandonmentByWeekday(lastc.join(ev, col("user_id") === col("eu"))
        .groupBy("user_id", "c_us")
        .agg(max(when(col("event_type") === "purchase" && col("us") > col("c_us")
          && col("us") <= col("c_us") + 86400000000L, 1).otherwise(0)).cast("long").as("converted")))
    }
  )
}
