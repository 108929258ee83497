package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.NbLang
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11t): portmanteau autocorrelation
  * testing, dedup survivorship-bias auditing, classifier threshold
  * tuning, image-hash radius profiling, language-ID confidence margins,
  * categorical column entropy, and Donchian channels.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-term transcendentals floor-quantized to integers BEFORE cross-row
  * sums; one fixed-shape IEEE expression per emitted float, mirrored
  * verbatim in DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5kOps {

  // q_mm_5's synthetic-raster phash CTE chain, reused verbatim so the
  // probe-radius query and the pair query can never drift.
  // shared with Round10Ops (q_mm_14_phash_bands reuses the byte-exact hash CTE)
  val duckPhash: String =
    """px AS (SELECT doc_id, i, ascii(substring(text, (i % len(text)) + 1, 1)) % 256 AS v
      |  FROM documents, (SELECT unnest(range(0, 256)) AS i)
      |  WHERE doc_id < 100 AND len(text) > 0),
      |blk AS (SELECT doc_id, ((i // 16) // 2) * 8 + ((i % 16) // 2) AS b, sum(v) AS s4
      |        FROM px GROUP BY doc_id, ((i // 16) // 2) * 8 + ((i % 16) // 2)),
      |tot AS (SELECT doc_id, sum(s4) AS s256 FROM blk GROUP BY doc_id),
      |h AS (SELECT blk.doc_id,
      |  CAST(sum(CASE WHEN s4 * 64 > s256 AND b < 32
      |        THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS ph_lo,
      |  CAST(sum(CASE WHEN s4 * 64 > s256 AND b >= 32
      |        THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INT)) ELSE 0 END) AS BIGINT) AS ph_hi
      |  FROM blk JOIN tot ON blk.doc_id = tot.doc_id GROUP BY blk.doc_id)""".stripMargin

  val all: Seq[Q] = Seq(

    Q("q_time_12_ljungbox",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS dday, CAST(count(*) AS BIGINT) AS x
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |dev AS (SELECT dday, CAST(count(*) OVER () * x - sum(x) OVER () AS BIGINT) AS d,
        |  CAST(count(*) OVER () AS BIGINT) AS n FROM day),
        |den AS (SELECT CAST(sum(d * d) AS BIGINT) AS den, CAST(max(n) AS BIGINT) AS n FROM dev),
        |lagged AS (SELECT k.k AS lag, CAST(sum(d.d * l.d) AS BIGINT) AS num
        | FROM (SELECT unnest(range(1, 7)) AS k) k
        | JOIN dev d ON true JOIN dev l ON l.dday = d.dday - CAST(k.k AS INTEGER) GROUP BY 1),
        |r AS (SELECT lag, CAST(floor(CAST(num AS DOUBLE) / den.den * 1000000 + 0.5) AS BIGINT) AS r6, den.n
        | FROM lagged, den),
        |tq AS (SELECT lag, n, CAST(floor(CAST(r6 * r6 AS DOUBLE) / (n - lag) + 0.5) AS BIGINT) AS t FROM r)
        |SELECT CAST(max(n) AS BIGINT) AS n_days, CAST(count(*) AS BIGINT) AS n_lags,
        | floor(CAST(max(n) AS DOUBLE) * (max(n) + 2) * sum(t) / 1000000000000 * 10000 + 0.5) / 10000 AS ljung_box_q
        |FROM tq""".stripMargin) { (s, d) =>
      // Ljung–Box portmanteau test over ACF lags 1..6 of the daily
      // purchase series: Q = n(n+2)·Σ r²ₖ/(n−k) — the ONE-number "is
      // there any autocorrelation at all" gate over q_time_5's per-lag
      // ACF (compare Q to χ²₆ ≈ 12.6 at 5%). The ACF ratios use
      // q_time_5's exact n²-scaled-deviation integer core, are
      // quantized to 1e-6 BEFORE squaring, and each lag's r²/(n−k) term
      // is floor-quantized to an integer BEFORE the 6-term sum — no
      // float ever accumulates. Scale: day-table lag self-join
      // (6×days), one-row result.
      val day = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("dday"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val all = Window.partitionBy()
      val dev = day.select(col("dday"),
        (count(lit(1)).over(all) * col("x") - sum("x").over(all)).cast("long").as("d"),
        count(lit(1)).over(all).as("n"))
        .localCheckpoint()
      val den = dev.agg(sum(col("d") * col("d")).cast("long").as("den"), max("n").as("n"))
      val ks = s.createDataFrame(java.util.Arrays.asList(
        (1 to 6).map(k => org.apache.spark.sql.Row(k.toLong)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lag", org.apache.spark.sql.types.LongType))))
      val l = dev.select(col("dday").as("ldday"), col("d").as("ld"))
      val lagged = ks.crossJoin(dev)
        .join(l, col("ldday") === col("dday") - col("lag"))
        .groupBy("lag").agg(sum(col("d") * col("ld")).cast("long").as("num"))
      val r = lagged.crossJoin(broadcast(den))
        .select(col("lag"),
          floor(col("num").cast("double") / col("den") * 1000000L + 0.5).cast("long").as("r6"),
          col("n"))
      val tq = r.select(col("lag"), col("n"),
        floor((col("r6") * col("r6")).cast("double") / (col("n") - col("lag")) + 0.5)
          .cast("long").as("t"))
      tq.agg(max("n").as("n_days"), count(lit(1)).as("n_lags"),
        round(max("n").cast("double") * (max("n") + 2) * sum("t") / 1000000000000L, 4)
          .as("ljung_box_q"))
    },

    Q("q_dedup_17_survivor_bias",
      """WITH t AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nuniq FROM documents),
        |nr AS (SELECT min(doc_id) AS keep FROM t GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))),
        |cls AS (SELECT t.*, CASE WHEN nr.keep IS NOT NULL THEN 'kept' ELSE 'dropped' END AS status
        | FROM t LEFT JOIN nr ON t.doc_id = nr.keep),
        |q AS (SELECT status, ntok, CAST(floor(CAST(nuniq AS DOUBLE) / ntok * 1000000 + 0.5) AS BIGINT) AS ur6 FROM cls)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        | floor(CAST(sum(ntok) AS DOUBLE) / count(*) * 100 + 0.5) / 100 AS mean_ntok,
        | floor(CAST(sum(ur6) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mean_uniq_ratio
        |FROM q GROUP BY 1 ORDER BY status""".stripMargin) { (s, d) =>
      // Dedup survivorship-bias audit: do the documents DROPPED by
      // token-set near-dedup differ systematically from the kept ones?
      // (On this fixture they do: dropped docs average 86 tokens vs 50
      // and markedly lower uniq ratios — dedup is silently reshaping
      // the length distribution, exactly the selection effect a
      // training-mix owner must know about; q_text_42 prices tokens,
      // this profiles WHAT was removed.) Per-doc uniq ratios are
      // quantized to 1e-6 integers BEFORE the group mean; token sums
      // exact. Scale: one digest-keyed survivor agg + a 2-row profile.
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("nuniq"))
        .localCheckpoint()
      val nr = t.groupBy(
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))))
        .agg(min("doc_id").as("keep"))
      val cls = t.join(nr.select(col("keep").as("doc_id")).withColumn("kept", lit(1)),
          Seq("doc_id"), "left")
        .select(when(col("kept").isNotNull, "kept").otherwise("dropped").as("status"),
          col("ntok"),
          floor(col("nuniq").cast("double") / col("ntok") * 1000000L + 0.5).cast("long").as("ur6"))
      cls.groupBy("status").agg(count(lit(1)).as("n"),
          round(sum("ntok").cast("double") / count(lit(1)), 2).as("mean_ntok"),
          (floor(sum("ur6").cast("double") / count(lit(1)) + 0.5) / 1000000L).as("mean_uniq_ratio"))
        .orderBy("status")
    },

    Q("q_ml_5_threshold",
      """WITH e AS (SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos FROM events),
        |b AS (SELECT cents, pos, CAST(ntile(10) OVER (ORDER BY cents, event_id) AS BIGINT) AS decile FROM e),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS k FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(k) AS BIGINT) AS kk FROM g),
        |cut AS (SELECT c.c AS cutoff,
        |  CAST(sum(CASE WHEN g.decile > c.c THEN g.k ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN g.decile > c.c THEN g.n - g.k ELSE 0 END) AS BIGINT) AS fp
        | FROM (SELECT unnest(range(1, 10)) AS c) c, g GROUP BY 1),
        |f AS (SELECT cutoff, tp, fp, tot.kk - tp AS fn,
        |  CAST(floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + tot.kk - tp) * 1000000 + 0.5) AS BIGINT) AS f16
        | FROM cut, tot)
        |SELECT CAST(cutoff AS BIGINT) AS cutoff, tp, fp, fn,
        | CASE WHEN tp + fp > 0 THEN floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS precision,
        | floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000 + 0.5) / 1000000 AS recall,
        | CAST(f16 AS DOUBLE) / 1000000 AS f1,
        | CAST(CASE WHEN f16 = max(f16) OVER () THEN 1 ELSE 0 END AS BIGINT) AS is_best
        |FROM f ORDER BY cutoff""".stripMargin) { (s, d) =>
      // Classifier threshold tuning: precision / recall / F1 at every
      // decile cutoff of the purchase score ("predict positive above
      // decile c"), with the best-F1 row flagged — the operating-point
      // chooser that q_ret_5's AUC (threshold-free) and q_ret_6's
      // calibration table feed into. TP/FP at each cutoff are suffix
      // sums over the SAME deterministic ntile(10) stats as q_ret_6
      // (the three gates share buckets by construction); F1 uses the
      // exact-integer identity 2TP/(2TP+FP+FN) quantized BEFORE the
      // argmax compare, so is_best is an exact integer test. Scale:
      // one global order, then 10-row arithmetic.
      val e = Tables(s, d, "events").select(col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("pos"))
      // builtin-identical ntile via exactGlobalRank + ntileOfRank —
      // range-partitioned, no one-task window over the events fact
      val (nE, ranked) = graft.api.Pipelines
        .exactGlobalRank(e, Seq(col("cents"), col("event_id")), "__rk")
      val b = ranked.select(col("cents"), col("pos"),
        graft.api.Pipelines.ntileOfRank(col("__rk"), lit(nE), 10).as("decile"))
      val g = b.groupBy("decile").agg(count(lit(1)).as("n"), sum("pos").cast("long").as("k"))
        .localCheckpoint()
      val tot = g.agg(sum("k").cast("long").as("kk"))
      val cuts = s.createDataFrame(java.util.Arrays.asList(
        (1 to 9).map(c => org.apache.spark.sql.Row(c.toLong)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cutoff", org.apache.spark.sql.types.LongType))))
      val cut = cuts.crossJoin(g)
        .groupBy("cutoff").agg(
          sum(when(col("decile") > col("cutoff"), col("k")).otherwise(0L)).cast("long").as("tp"),
          sum(when(col("decile") > col("cutoff"), col("n") - col("k")).otherwise(0L)).cast("long").as("fp"))
      val f = cut.crossJoin(broadcast(tot))
        .select(col("cutoff"), col("tp"), col("fp"), (col("kk") - col("tp")).as("fn"),
          floor((col("tp") * 2).cast("double")
            / (col("tp") * 2 + col("fp") + col("kk") - col("tp")) * 1000000L + 0.5)
            .cast("long").as("f16"))
      f.select(col("cutoff"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fp")), 6)).otherwise(0.0).as("precision"),
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6).as("recall"),
          (col("f16").cast("double") / 1000000L).as("f1"),
          when(col("f16") === max("f16").over(Window.partitionBy()), 1L).otherwise(0L).as("is_best"))
        .orderBy("cutoff")
    },

    Q("q_mm_7_phash_radius",
      s"""WITH $duckPhash,
         |probe AS (SELECT ph_lo AS plo, ph_hi AS phi FROM h WHERE doc_id = 0),
         |dd AS (SELECT h.doc_id,
         |  bit_count(xor(h.ph_lo, probe.plo)) + bit_count(xor(h.ph_hi, probe.phi)) AS ham
         | FROM h, probe),
         |g AS (SELECT ham // 8 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(ham) AS BIGINT) AS mn, CAST(max(ham) AS BIGINT) AS mx FROM dd GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n, mn AS min_hamming, mx AS max_hamming
         |FROM g ORDER BY bucket""".stripMargin) { (s, d) =>
      // Perceptual-hash radius profile: Hamming-distance histogram from
      // a probe image's 64-bit aHash (q_mm_5's REAL PNG decode→pool→
      // hash pipeline) in 8-bit buckets — the image-side threshold
      // calibration that q_dedup_15 provides for text SimHash (where
      // does the near-dup shell end and the background begin, read
      // BEFORE choosing q_mm_5's pair threshold). Distances are
      // bit_count(xor) over the two 32-bit halves — exact integers;
      // DuckDB rebuilds the identical hash from source bytes because
      // PNG is lossless. Scale: broadcast probe row over the bounded
      // decode set; ≤9-bucket agg.
      import s.implicits._
      val h = Tables(s, d, "documents")
        .filter(col("doc_id") < 100 && length(col("text")) > 0)
        .select("doc_id", "text").as[(Long, String)]
        .mapPartitions(_.map { case (id, t) => Round3cOps.phashOf(id, t) })
        .toDF().localCheckpoint()
      val probe = h.filter(col("doc_id") === 0).select(col("ph_lo").as("plo"), col("ph_hi").as("phi"))
      val dd = h.crossJoin(broadcast(probe))
        .select(col("doc_id"),
          (bit_count(col("ph_lo").bitwiseXOR(col("plo")))
            + bit_count(col("ph_hi").bitwiseXOR(col("phi")))).as("ham"))
      dd.groupBy(expr("ham div 8").as("bucket"))
        .agg(count(lit(1)).as("n"), min("ham").cast("long").as("min_hamming"),
          max("ham").cast("long").as("max_hamming"))
        .select(col("bucket").cast("long").as("bucket"), col("n"),
          col("min_hamming"), col("max_hamming"))
        .orderBy("bucket")
    },

    Q("q_text_43_lang_margin",
      NbLang.oracleCtes +
      """,
        |rk AS (SELECT doc_id, lang, score9, row_number() OVER (PARTITION BY doc_id ORDER BY score9 DESC, lang) AS rn FROM sc),
        |mg AS (SELECT a.doc_id, a.lang AS pred, CAST(a.score9 - b.score9 AS BIGINT) AS margin9
        | FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2),
        |j AS (SELECT d.lang AS actual, m.pred, m.margin9, d.doc_id FROM documents d JOIN mg m ON d.doc_id = m.doc_id),
        |r AS (SELECT actual, margin9, doc_id, CAST(row_number() OVER (PARTITION BY actual ORDER BY margin9, doc_id) AS BIGINT) AS rn,
        |  CAST(count(*) OVER (PARTITION BY actual) AS BIGINT) AS n,
        |  CASE WHEN pred = actual THEN 1 ELSE 0 END AS ok FROM j)
        |SELECT actual AS lang, CAST(max(n) AS BIGINT) AS n,
        | CAST(sum(ok) AS BIGINT) AS n_correct,
        | floor(CAST(min(CASE WHEN rn = (n + 1) // 2 THEN margin9 END) AS DOUBLE) / 1000000000 * 10000 + 0.5) / 10000 AS p50_margin_nats,
        | CAST(sum(CASE WHEN margin9 < 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_margin
        |FROM r GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
      // Language-ID confidence margins: per actual language, the exact
      // median gap (in nats) between the NB classifier's top-1 and
      // top-2 scores, plus the count of low-margin (<1 nat) documents —
      // the ambiguity profile that says WHICH slices of q_ml_2's
      // accuracy are fragile (a correct call at 0.1 nats flips under
      // any vocabulary drift; those docs are the relabel-review queue).
      // Built on the SAME [[NbLang.scores]] table and oracle CTE chain
      // as q_ml_2/q_ml_3 (the three gates cannot drift); margins are
      // exact BIGINT 1e-9-nat differences, the median an exact order
      // statistic. Scale: score table is docs×|langs|; the per-doc rank
      // window partitions by doc_id (row-scaled key — fine); the
      // per-LANG ranks come from Pipelines.groupRankPrefix (r13 —
      // the ~langs-valued window was a few-task corpus sort, the
      // 3rd-slowest bench query at r12; range-partitioned ranks keep
      // every task ~N/P).
      val rk = NbLang.scores(s, d).withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy(col("score9").desc, col("lang"))))
      val top = rk.filter(col("rn") === 1)
        .select(col("doc_id"), col("lang").as("pred"), col("score9").as("s1"))
      val second = rk.filter(col("rn") === 2)
        .select(col("doc_id"), col("score9").as("s2"))
      val mg = top.join(second, "doc_id")
        .select(col("doc_id"), col("pred"), (col("s1") - col("s2")).as("margin9"))
      // materialize the NB-scored margins ONCE before the rank helper
      // (r14, measured −0.4 s solo): groupRankPrefix's range
      // sampling and shuffle-map jobs would otherwise each re-run the
      // per-doc scoring tail; the snapshot is doc-sized and swept per
      // query by BlockCleanup
      val j = Tables(s, d, "documents").select(col("doc_id"), col("lang").as("actual"))
        .join(mg, "doc_id")
        .localCheckpoint()
      val r = graft.api.Pipelines.groupRankPrefix(j,
          Seq("actual"), Seq(col("margin9"), col("doc_id")), "rn", "n")
        .withColumn("ok", when(col("pred") === col("actual"), 1).otherwise(0))
      r.groupBy(col("actual").as("lang")).agg(
          max("n").as("n"), sum("ok").cast("long").as("n_correct"),
          round(min(when(col("rn") === expr("(n + 1) div 2"), col("margin9")))
            .cast("double") / 1000000000L, 4).as("p50_margin_nats"),
          sum(when(col("margin9") < 1000000000L, 1).otherwise(0)).cast("long").as("n_low_margin"))
        .orderBy("lang")
    },

    Q("q_dq_27_col_entropy",
      """WITH cols AS (
        | SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
        | UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        | UNION ALL SELECT 'order_month', strftime(date_trunc('month', o_orderdate), '%Y-%m') FROM orders
        | UNION ALL SELECT 'order_dow', CAST((epoch_us(o_orderdate) // 86400000000 + 4) % 7 AS VARCHAR) FROM orders),
        |c AS (SELECT col, v, CAST(count(*) AS BIGINT) AS n FROM cols GROUP BY 1, 2),
        |t AS (SELECT col, CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS k FROM c GROUP BY 1),
        |h AS (SELECT c.col,
        |  CAST(sum(CAST(floor(-(CAST(c.n AS DOUBLE) / t.tot) * ln(CAST(c.n AS DOUBLE) / t.tot) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS hq
        | FROM c JOIN t ON c.col = t.col GROUP BY 1)
        |SELECT h.col, t.k AS n_distinct,
        | floor(CAST(h.hq AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000 AS entropy,
        | CASE WHEN t.k > 1 THEN floor(CAST(h.hq AS DOUBLE) / 1000000000 / ln(CAST(t.k AS DOUBLE)) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS norm_entropy
        |FROM h JOIN t ON h.col = t.col ORDER BY h.col""".stripMargin) { (s, d) =>
      // Categorical column-entropy profile of the orders table: distinct
      // count, Shannon entropy, and entropy normalized by ln(k) for
      // status / priority / order month / order day-of-week — the
      // information-density readout that picks partition and clustering
      // columns (norm_entropy ≈ 1 ⇒ uniform ⇒ good partition balance;
      // low ⇒ skewed — q_dq_15 then profiles the skew) and prices
      // dictionary encoding. The unpivot is a 4-way union of 2-column
      // projections (one scan each, column-pruned); each −p·ln p term
      // is floor-quantized to a 1e-9 integer BEFORE its value-keyed
      // sum (q_agg_28's device). Scale: value vocabularies are tiny;
      // everything after the counts is per-column arithmetic.
      val o = Tables(s, d, "orders")
      val cols = o.select(lit("o_orderstatus").as("col"), col("o_orderstatus").as("v"))
        .union(o.select(lit("o_orderpriority"), col("o_orderpriority")))
        .union(o.select(lit("order_month"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")))
        .union(o.select(lit("order_dow"),
          ((expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000") + 4) % 7).cast("string")))
      val c = cols.groupBy("col", "v").agg(count(lit(1)).as("n"))
      val t = c.groupBy("col").agg(sum("n").as("tot"), count(lit(1)).as("k"))
      val p = col("n").cast("double") / col("tot")
      val h = c.join(t, "col")
        .select(col("col"), floor(-p * log(p) * 1000000000L + 0.5).cast("long").as("tq"))
        .groupBy("col").agg(sum("tq").cast("long").as("hq"))
      h.join(t, "col")
        .select(col("col"), col("k").as("n_distinct"),
          round(col("hq").cast("double") / 1000000000L, 6).as("entropy"),
          when(col("k") > 1,
            round(col("hq").cast("double") / 1000000000L / log(col("k").cast("double")), 6))
            .otherwise(0.0).as("norm_entropy"))
        .orderBy("col")
    },

    Q("q_win_16_donchian",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT day, cents, CAST(count(*) OVER win AS BIGINT) AS k,
        |  CAST(min(cents) OVER win AS BIGINT) AS lo, CAST(max(cents) OVER win AS BIGINT) AS hi
        | FROM d WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT CAST(day AS BIGINT) AS day,
        | floor(CAST(cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS daily_value,
        | floor(CAST(lo AS DOUBLE) / 100 * 100 + 0.5) / 100 AS channel_lo,
        | floor(CAST(hi AS DOUBLE) / 100 * 100 + 0.5) / 100 AS channel_hi,
        | CASE WHEN hi > lo THEN floor(CAST(cents - lo AS DOUBLE) / (hi - lo) * 1000000 + 0.5) / 1000000 ELSE 0.5 END AS channel_pos
        |FROM w WHERE k = 7 ORDER BY day""".stripMargin) { (s, d) =>
      // Donchian channel: 7-day rolling min/max of daily purchase
      // revenue and the current day's position inside the channel
      // (0 = at the 7-day low, 1 = at the high; degenerate flat channel
      // pinned to 0.5, stated) — the range-based breakout indicator
      // completing the rolling-envelope trio (q_win_12 Bollinger =
      // variance band, q_win_14 RSI = momentum, this = range). Rolling
      // extremes are exact BIGINT window min/max; the position is an
      // exact rational. Warm-up rows excluded. Scale: day-table ROWS
      // windows — repartitionByRange at 100 TB.
      val dd = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val win = Window.orderBy("day").rowsBetween(-6, 0)
      val w = dd.select(col("day"), col("cents"),
        count(lit(1)).over(win).as("k"),
        min("cents").over(win).as("lo"),
        max("cents").over(win).as("hi"))
      w.filter(col("k") === 7)
        .select(col("day").cast("long").as("day"),
          round(col("cents").cast("double") / 100, 2).as("daily_value"),
          round(col("lo").cast("double") / 100, 2).as("channel_lo"),
          round(col("hi").cast("double") / 100, 2).as("channel_hi"),
          when(col("hi") > col("lo"),
            round((col("cents") - col("lo")).cast("double") / (col("hi") - col("lo")), 6))
            .otherwise(0.5).as("channel_pos"))
        .orderBy("day")
    }
  )
}
