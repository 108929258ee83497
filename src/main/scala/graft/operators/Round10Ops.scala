package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-10 surface additions (SURVEY §2.11ca): the round's machinery
  * exposed as oracle-checked capability, following the r8/r9 pattern —
  * the deletion-neighborhood blocking profile (the r9-verdict entity
  * fix, measured as data), banded pHash candidate generation (the
  * scale path q_mm_5's brute-force pairs have always pointed at), and
  * the time-weighted concurrency profile (the q_stream_22 sweep-line
  * machinery, held for a duration-weighted readout instead of a peak
  * pick).
  */
object Round10Ops {

  val all: Seq[Q] = Seq(

    Q("q_dedup_32_deletion_blocks",
      """WITH sigs AS (
        | SELECT c_custkey, unnest(list_prepend(c_name,
        |   list_transform(range(1, len(c_name) + 1),
        |     i -> substring(c_name, 1, i - 1) || substring(c_name, i + 1)))) AS sig
        | FROM customer),
        |b AS (SELECT sig, CAST(count(*) AS BIGINT) AS bs FROM sigs GROUP BY 1)
        |SELECT bs AS block_size, CAST(count(*) AS BIGINT) AS n_blocks,
        | CAST(sum(bs * (bs - 1) // 2) AS BIGINT) AS n_pairs
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Blocking-key profile of the deletion-neighborhood generator
      // (r10: the linear replacement for q_dedup_9's quadratic
      // last-3-chars key): per block SIZE, how many signature blocks
      // exist and how many within-block candidate pairs they induce —
      // the one-look audit that says whether a blocking scheme is
      // candidate-bounded (mass at size 1–2, as here: a signature's
      // block is capped by existing single-insertion extensions,
      // independent of n) or secretly quadratic (mass in a few huge
      // blocks — exactly what the same profile over the old
      // fixed-cardinality key shows). Everything is exact integers;
      // the explode is L+1 rows per name (map-side), the histogram two
      // keyed aggregates. Scale: linear in names, no pair is ever
      // materialized — the profile COUNTS pairs arithmetically.
      val sigs = Tables(s, d, "customer")
        .select(col("c_custkey"), explode(graft.functions.TextFunctions.deletionNeighborhood(col("c_name"))).as("sig"))
      val b = sigs.groupBy("sig").agg(count(lit(1)).as("bs"))
      b.groupBy("bs").agg(count(lit(1)).as("n_blocks"),
          sum(expr("bs * (bs - 1) div 2")).cast("long").as("n_pairs"))
        .select(col("bs").as("block_size"), col("n_blocks"), col("n_pairs"))
        .orderBy("block_size")
    },

    Q("q_mm_14_phash_bands",
      s"""WITH ${Round5kOps.duckPhash},
         |grid AS (SELECT nb, t.i AS b,
         |  CASE WHEN t.i * (64 // nb) < 32 THEN 0 ELSE 1 END AS hi,
         |  (CAST(1 AS BIGINT) << CAST((t.i * (64 // nb)) % 32 AS INT)) AS dv,
         |  (CAST(1 AS BIGINT) << CAST(64 // nb AS INT)) - 1 AS mask
         | FROM (SELECT unnest([4, 8, 16]) AS nb), LATERAL (SELECT unnest(range(0, nb)) AS i) t),
         |bands AS (SELECT h.doc_id, g.nb, g.b,
         |  ((CASE WHEN g.hi = 0 THEN ph_lo ELSE ph_hi END) // g.dv) & g.mask AS v
         | FROM h, grid g),
         |cand AS (SELECT DISTINCT a.nb, a.doc_id AS ia, b2.doc_id AS ib
         | FROM bands a JOIN bands b2
         |   ON a.nb = b2.nb AND a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id),
         |cd AS (SELECT nb, count(*) AS n_cand,
         |  sum(CASE WHEN bit_count(xor(x.ph_lo, y.ph_lo))
         |        + bit_count(xor(x.ph_hi, y.ph_hi)) <= 18 THEN 1 ELSE 0 END) AS n_ver
         | FROM cand JOIN h x ON cand.ia = x.doc_id JOIN h y ON cand.ib = y.doc_id GROUP BY 1),
         |tr AS (SELECT count(*) AS n_true FROM h a JOIN h b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.ph_lo, b.ph_lo)) + bit_count(xor(a.ph_hi, b.ph_hi)) <= 18)
         |SELECT CAST(nb AS BIGINT) AS n_bands, CAST(64 // nb AS BIGINT) AS band_bits,
         | CAST(n_cand AS BIGINT) AS n_candidate_pairs,
         | CAST(n_ver AS BIGINT) AS n_verified, CAST(n_true AS BIGINT) AS n_true_pairs,
         | CASE WHEN n_true > 0
         |   THEN floor(CAST(n_ver AS DOUBLE) / n_true * 1000000 + 0.5) / 1000000 END AS recall,
         | CASE WHEN n_cand > 0
         |   THEN floor(CAST(n_ver AS DOUBLE) / n_cand * 1000000 + 0.5) / 1000000 END AS precision
         |FROM cd, tr ORDER BY n_bands""".stripMargin) { (s, d) =>
      // Banded pHash candidate generation — the scale path q_mm_5's
      // brute-force pair join has always named in its comment, now a
      // first-class measured operator, as a BAND-SHAPE SWEEP (the
      // q_dedup_14 / q_join_26 tuning discipline on the image side):
      // the 64-bit aHash splits into nb ∈ {4, 8, 16} equal bands,
      // candidates = pairs sharing ANY exact band, each row reporting
      // measured recall/precision against the exact dist ≤ 18 truth.
      // Pigeonhole: nb bands GUARANTEE recall of pairs at dist < nb,
      // so the sweep shows the curve a threshold-18 deployment needs
      // 16 bands for (4 bands recall 0 on this fixture — exactly the
      // readout that stops a mis-tuned index build). The band join
      // shuffles nb shorts/doc, never a pair space; the truth pass
      // over the constant doc_id < 100 decode slice is the eval's own
      // cost, not the serving path's.
      import s.implicits._
      val h = Tables(s, d, "documents")
        .filter(col("doc_id") < 100 && length(col("text")) > 0)
        .select("doc_id", "text").as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => Round3cOps.phashOf(id, t) })
        .toDF().localCheckpoint() // decode once; banding + truth probe it
      val grid = Seq(4, 8, 16).flatMap { nb =>
        val w = 64 / nb
        (0 until nb).map { i =>
          (nb, i, if (i * w < 32) 0 else 1, 1L << ((i * w) % 32), (1L << w) - 1)
        }
      }.toDF("nb", "b", "hi", "dv", "mask")
      val bands = h.crossJoin(broadcast(grid))
        .select(col("doc_id"), col("nb"), col("b"),
          (when(col("hi") === 0, col("ph_lo")).otherwise(col("ph_hi"))
            / col("dv")).cast("long").bitwiseAND(col("mask")).as("v"))
      val cand = bands.as("a").join(bands.as("c"),
          col("a.nb") === col("c.nb") && col("a.b") === col("c.b")
            && col("a.v") === col("c.v") && col("a.doc_id") < col("c.doc_id"))
        .select(col("a.nb").as("nb"), col("a.doc_id").as("ia"), col("c.doc_id").as("ib"))
        .distinct()
      val hx = h.select(col("doc_id").as("ia"), col("ph_lo").as("xlo"), col("ph_hi").as("xhi"))
      val hy = h.select(col("doc_id").as("ib"), col("ph_lo").as("ylo"), col("ph_hi").as("yhi"))
      val dist = bit_count(col("xlo").bitwiseXOR(col("ylo"))) +
        bit_count(col("xhi").bitwiseXOR(col("yhi")))
      val cd = cand.join(hx, "ia").join(hy, "ib")
        .groupBy("nb")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(dist <= 18, 1L).otherwise(0L)).as("n_ver"))
      val tr = hx.join(hy, col("ia") < col("ib"))
        .agg(sum(when(dist <= 18, 1L).otherwise(0L)).as("n_true"))
      cd.crossJoin(broadcast(tr))
        .select(col("nb").cast("long").as("n_bands"),
          (lit(64) / col("nb")).cast("long").as("band_bits"),
          col("n_cand").as("n_candidate_pairs"),
          col("n_ver").as("n_verified"), col("n_true").as("n_true_pairs"),
          when(col("n_true") > 0,
            floor(col("n_ver").cast("double") / col("n_true") * 1000000 + 0.5) / 1000000)
            .as("recall"),
          when(col("n_cand") > 0,
            floor(col("n_ver").cast("double") / col("n_cand") * 1000000 + 0.5) / 1000000)
            .as("precision"))
        .orderBy("n_bands")
    },

    Q("q_stream_43_conc_profile",
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
        |x AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM x),
        |sess AS (SELECT user_id, sid, epoch_us(min(ts)) AS st, epoch_us(max(ts)) AS en FROM s GROUP BY 1, 2),
        |pts AS (SELECT st AS t, 1 AS delta FROM sess UNION ALL SELECT en + 1, -1 FROM sess),
        |net AS (SELECT t, CAST(sum(delta) AS BIGINT) AS net FROM pts GROUP BY 1),
        |run AS (SELECT t, CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc,
        |        lead(t) OVER (ORDER BY t) AS tn FROM net),
        |lv AS (SELECT conc, CAST(sum(tn - t) AS BIGINT) AS total_us
        |       FROM run WHERE tn IS NOT NULL GROUP BY 1)
        |SELECT conc AS concurrency, total_us,
        | floor(CAST(total_us AS DOUBLE) / (SELECT sum(total_us) FROM lv) * 1000000 + 0.5) / 1000000 AS share
        |FROM lv ORDER BY 1""".stripMargin) { (s, d) =>
      // Time-WEIGHTED session-concurrency profile: how long the system
      // sat at each concurrency level (µs at k open sessions, share of
      // the observed window) — the capacity-planning CURVE whose max
      // q_stream_22 picks (a 1-µs spike to 400 and a steady hour at
      // 300 size a pool very differently). Boundaries collapse to
      // DISTINCT timestamps first (net delta per µs), so the sweep has
      // no ties anywhere; the tail is Streams.concProfileFinish, over
      // the same session spans as q_stream_22.
      graft.streaming.Streams.concProfileFinish(
        graft.streaming.Streams.sessionSpans(Tables(s, d, "events")))
    }
  )
}
