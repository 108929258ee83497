package graft.operators

import graft.Q
import graft.sources.Tables
import graft.functions.Num.round
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 additions (SURVEY §2.11i): retrieval-quality evaluation
  * (nDCG@k, MRR), training-set mechanics (k-fold assignment, per-source
  * document caps, winsorized robust mean), corpus diagnostics (hapax
  * ratio, per-language head tokens), time-series resampling with gap
  * fill, event burst detection, ensemble dedup classification, and
  * embedding-cluster drift vs the global centroid.
  *
  * Determinism discipline (unchanged from §2.11d-h): every aggregate
  * that feeds a float is an exact BIGINT sufficient statistic
  * (order-insensitive integer addition), each emitted float is ONE
  * fixed-shape IEEE expression rounded floor(x·10⁶+0.5)/10⁶ and
  * mirrored verbatim in the DuckDB oracle, every result ends in a
  * total ORDER BY. The nDCG discount weights are precomputed Scala
  * literals interpolated into BOTH programs, so no transcendental is
  * evaluated by either engine at run time.
  */
object Round4Ops {

  /** 1e6-quantized nDCG discount weights 1/log₂(r+1), r = 1..10,
    * computed once here and embedded as integer literals on both the
    * Spark and DuckDB sides (log2 evaluated at plan-build time only —
    * cross-engine libm drift is impossible by construction).
    */
  private[graft] val ndcgW: Seq[Long] =
    (1 to 10).map(r => math.floor(1e6 * math.log(2) / math.log(r + 1.0) + 0.5).toLong)
  private val ndcgWSql = ndcgW.mkString("[", ", ", "]")

  val all: Seq[Q] = Seq(

    Q("q_ret_1_ndcg",
      s"""WITH r AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
         |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
         |       FROM documents),
         |i AS (SELECT source, rel, rn,
         |       CAST(row_number() OVER (PARTITION BY source ORDER BY rel DESC, rn) AS BIGINT) AS irn FROM r),
         |s AS (SELECT source,
         |       CAST(sum(CASE WHEN rel = 1 AND rn <= 10 THEN ($ndcgWSql)[CAST(rn AS INT)] ELSE 0 END) AS BIGINT) AS dcgq,
         |       CAST(sum(CASE WHEN rel = 1 AND irn <= 10 THEN ($ndcgWSql)[CAST(irn AS INT)] ELSE 0 END) AS BIGINT) AS idcgq,
         |       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(rel) AS BIGINT) AS n_rel
         |      FROM i GROUP BY 1)
         |SELECT source, n_docs, n_rel,
         | CASE WHEN idcgq > 0 THEN floor(CAST(dcgq AS DOUBLE) / CAST(idcgq AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS ndcg
         |FROM s ORDER BY source""".stripMargin) { (s, d) =>
      // Ranking-quality evaluation: each `source` is a query group, its
      // docs ranked by (n_chars DESC, doc_id) as the system ranking,
      // lang='en' as binary relevance.
      graft.api.Pipelines.ndcgAtK(Tables(s, d, "documents"), "source", "n_chars", "doc_id",
          col("lang") === "en")
        .orderBy("source")
    },

    Q("q_ret_2_mrr",
      """WITH r AS (SELECT source, lang,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        |       FROM documents)
        |SELECT source, min(CASE WHEN lang = 'en' THEN rn END) AS first_rel_rank,
        | floor(1000000.0 / min(CASE WHEN lang = 'en' THEN rn END) + 0.5) / 1000000 AS rr
        |FROM r GROUP BY 1 HAVING min(CASE WHEN lang = 'en' THEN rn END) IS NOT NULL
        |ORDER BY source""".stripMargin) { (s, d) =>
      // Mean-reciprocal-rank inputs: first relevant rank per query
      // group under the same ranking as q_ret_1; groups with no
      // relevant doc are excluded (their RR is undefined, not 0 —
      // stated rather than silently imputed). The reciprocal is one
      // IEEE division of exact integers, identical on both engines.
      val byRank = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      Tables(s, d, "documents")
        .select(col("source"), col("lang"), row_number().over(byRank).cast("long").as("rn"))
        .groupBy("source")
        .agg(min(when(col("lang") === "en", col("rn"))).as("first_rel_rank"))
        .filter(col("first_rel_rank").isNotNull)
        .select(col("source"), col("first_rel_rank"),
          (floor(lit(1000000.0) / col("first_rel_rank") + 0.5) / 1000000).as("rr"))
        .orderBy("source")
    },

    Q("q_ret_3_pr_at_k",
      """WITH r AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        |       FROM documents)
        |SELECT source,
        | CAST(sum(CASE WHEN rn <= 10 THEN rel ELSE 0 END) AS BIGINT) AS rel_in_k,
        | CAST(sum(rel) AS BIGINT) AS n_rel,
        | floor(CAST(sum(CASE WHEN rn <= 10 THEN rel ELSE 0 END) AS DOUBLE) / 10 * 1000000 + 0.5) / 1000000 AS p_at_k,
        | CASE WHEN sum(rel) > 0
        |  THEN floor(CAST(sum(CASE WHEN rn <= 10 THEN rel ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(rel) AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS r_at_k
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      // Precision@10 / Recall@10 per query group under the shared ranking
      // contract (q_ret_1) — with nDCG and MRR this completes the
      // retrieval-metrics set a RAG evaluation harness reports. Pure
      // integer counts until the two final divisions.
      val byRank = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      Tables(s, d, "documents")
        .select(col("source"), when(col("lang") === "en", 1L).otherwise(0L).as("rel"),
          row_number().over(byRank).cast("long").as("rn"))
        .groupBy("source")
        .agg(sum(when(col("rn") <= 10, col("rel")).otherwise(0L)).as("rel_in_k"),
          sum("rel").as("n_rel"))
        .select(col("source"), col("rel_in_k"), col("n_rel"),
          round(col("rel_in_k").cast("double") / 10, 6).as("p_at_k"),
          when(col("n_rel") > 0,
            round(col("rel_in_k").cast("double") / col("n_rel").cast("double"), 6))
            .otherwise(0.0).as("r_at_k"))
        .orderBy("source")
    },

    Q("q_ret_4_map",
      """WITH r AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        |       FROM documents),
        |p AS (SELECT source, rel, rn,
        |       CAST(sum(rel) OVER (PARTITION BY source ORDER BY rn) AS BIGINT) AS cum_rel
        |      FROM r)
        |SELECT source, CAST(sum(rel) AS BIGINT) AS n_rel,
        | CAST(sum(CASE WHEN rel = 1 AND rn <= 10 THEN cum_rel * 1000000 // rn ELSE 0 END) AS BIGINT) AS apq,
        | CASE WHEN sum(CASE WHEN rn <= 10 THEN rel ELSE 0 END) > 0
        |  THEN floor(CAST(sum(CASE WHEN rel = 1 AND rn <= 10 THEN cum_rel * 1000000 // rn ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CASE WHEN rn <= 10 THEN rel ELSE 0 END) AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000
        |  ELSE 0.0 END AS ap_at_k
        |FROM p GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      // Average precision@10 per query group: mean over the relevant
      // ranks r≤10 of precision-at-r = cum_rel(r)/r. Each precision term
      // is the exact integer floor(cum_rel·10⁶ / r) — quantization
      // BEFORE the mean keeps the whole statistic an order-free BIGINT
      // sum (the §2.11h discipline); the running-relevance window is
      // cast in the oracle (window-sum HUGEINT trap).
      val byRank = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      val cumW = Window.partitionBy("source").orderBy(col("rn"))
      Tables(s, d, "documents")
        .select(col("source"), when(col("lang") === "en", 1L).otherwise(0L).as("rel"),
          row_number().over(byRank).cast("long").as("rn"))
        .withColumn("cum_rel", sum("rel").over(cumW).cast("long"))
        .groupBy("source")
        .agg(sum("rel").as("n_rel"),
          sum(when(col("rel") === 1 && col("rn") <= 10,
            floor(col("cum_rel") * 1000000 / col("rn")).cast("long")).otherwise(0L)).as("apq"),
          sum(when(col("rn") <= 10, col("rel")).otherwise(0L)).as("relk"))
        .select(col("source"), col("n_rel"), col("apq"),
          when(col("relk") > 0,
            round(col("apq").cast("double") / col("relk").cast("double") / 1000000, 6))
            .otherwise(0.0).as("ap_at_k"))
        .orderBy("source")
    },

    Q("q_ml_1_kfold",
      """SELECT ((doc_id % 1000000007) * 2654435761) % 1000000007 % 5 AS fold,
        | CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        | floor(CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 100 + 0.5) / 100 AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY fold""".stripMargin) { (s, d) =>
      // Deterministic k-fold (k=5) cross-validation assignment by the
      // same mod-P multiplicative id hash as the train/valid/test split.
      Tables(s, d, "documents")
        .groupBy(graft.api.Pipelines.kfold("doc_id").as("fold"))
        .agg(count(lit(1)).as("n_docs"), countDistinct("lang").as("n_langs"),
          round(sum(col("n_chars").cast("long")).cast("double") / count(lit(1)).cast("double"), 2)
            .as("avg_chars"))
        .orderBy("fold")
    },

    Q("q_agg_32_winsorize",
      """WITH p AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.05) AS p05,
        |                  quantile_cont(l_extendedprice, 0.95) AS p95 FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | floor(CAST(sum(CASE WHEN l.l_extendedprice < p.p05 THEN CAST(floor(p.p05 * 100 + 0.5) AS BIGINT)
        |                     WHEN l.l_extendedprice > p.p95 THEN CAST(floor(p.p95 * 100 + 0.5) AS BIGINT)
        |                     ELSE CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) END) AS DOUBLE)
        |   / (CAST(count(*) AS DOUBLE) * 100) * 100 + 0.5) / 100 AS winsor_mean
        |FROM lineitem l JOIN p ON l.l_returnflag = p.l_returnflag
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Winsorized mean (5%/95% clamp) — the robust location estimate
      // that KEEPS the tail rows at the boundary value (contrast
      // q_agg_27's trimmed mean); same percentile parity and
      // boundary-safety argument as q_agg_27.
      graft.api.Pipelines.winsorizedMean(Tables(s, d, "lineitem"), "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")
    },

    Q("q_text_29_source_caps",
      """WITH r AS (SELECT source,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn
        |       FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN rn > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin) { (s, d) =>
      // Per-source document caps (the Common-Crawl "max N pages per
      // domain" rule): rank within source by quality proxy
      // (n_chars DESC, doc_id tiebreak), keep the top 15. At 100 TB this
      // is one ranking window partitioned by domain — skewed mega-domains
      // are exactly the rows the cap discards, so the heavy partitions
      // shrink as they rank (WindowGroupLimit prunes past rank 15 when
      // the filter is pushed; here we keep full counts for the report).
      val byRank = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      Tables(s, d, "documents")
        .select(col("source"), row_number().over(byRank).cast("long").as("rn"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= 15, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > 15, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("source")
    },

    Q("q_text_30_hapax",
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
        | CAST(count(*) FILTER (n = 1) AS BIGINT) AS hapax,
        | floor(CAST(count(*) FILTER (n = 1) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS hapax_ratio
        |FROM c GROUP BY 1 ORDER BY lang""".stripMargin) { (s, d) =>
      // Hapax-legomena ratio per language — the share of vocabulary seen
      // exactly once. High hapax ratio flags OCR noise / boilerplate IDs;
      // natural language sits near the Zipf-predicted band (q_text_25).
      // Two hash aggs, both vocabulary-bounded after the first — the
      // corpus-sized explode feeds a (lang, token) agg that map-side
      // combines, so shuffle bytes track vocab, not corpus.
      Tables(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("lang"), col("vocab"), col("hapax"),
          round(col("hapax").cast("double") / col("vocab").cast("double"), 6).as("hapax_ratio"))
        .orderBy("lang")
    },

    Q("q_text_31_top_tokens",
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, tok, n,
        |       CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total,
        |       CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS BIGINT) AS rnk
        |      FROM c)
        |SELECT lang, rnk, tok, n,
        | floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 + 0.5) / 1000000 AS share
        |FROM r WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin) { (s, d) =>
      // Per-language head-token profile (top-5 by frequency): the
      // stopword fingerprint a curation team eyeballs to catch language
      // mislabeling or boilerplate floods. The per-lang total rides a
      // WINDOW over the already-aggregated vocab table (§2.11g lesson:
      // totals never replay the corpus — window-sum instead of a
      // total-table self-join keeps this a single corpus scan), window
      // sums cast to BIGINT (the HUGEINT trap applies to windows too).
      val c = Tables(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      val byLang = Window.partitionBy("lang")
      val byFreq = Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))
      c.withColumn("total", sum("n").over(byLang).cast("long"))
        .withColumn("rnk", row_number().over(byFreq).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("rnk"), col("tok"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("share"))
        .orderBy("lang", "rnk")
    },

    Q("q_time_7_resample",
      """WITH h AS (SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_id FROM events),
        |b AS (SELECT event_type, hour_id, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1, 2),
        |g AS (SELECT CAST(unnest(generate_series((SELECT min(hour_id) FROM h), (SELECT max(hour_id) FROM h))) AS BIGINT) AS hour_id),
        |ty AS (SELECT DISTINCT event_type FROM events)
        |SELECT ty.event_type, g.hour_id, COALESCE(b.n, 0) AS n
        |FROM ty CROSS JOIN g
        |LEFT JOIN b ON b.event_type = ty.event_type AND b.hour_id = g.hour_id
        |ORDER BY ty.event_type, g.hour_id""".stripMargin) { (s, d) =>
      // Hourly resample with zero-filled gaps: the dense regular series
      // every downstream time-series op (ACF, seasonality, CUSUM)
      // assumes. Hour ids are exact integer µs-division — no timestamp
      // arithmetic to drift cross-engine. The corpus collapses to the
      // per-(type, hour) agg FIRST; the dense spine (types × hours, tiny)
      // is generated and broadcast against it, never against raw events.
      val ev = Tables(s, d, "events")
        .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hour_id"))
      val b = ev.groupBy("event_type", "hour_id").agg(count(lit(1)).as("n"))
      // bounds + type list roll up from the ALREADY-aggregated b (its
      // min/max/distinct equal the raw stream's) — one corpus scan total.
      val bounds = b.agg(min("hour_id").as("lo"), max("hour_id").as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("hour_id"))
      val types = b.select("event_type").distinct()
      broadcast(types).crossJoin(broadcast(spine))
        .join(b, Seq("event_type", "hour_id"), "left")
        .select(col("event_type"), col("hour_id"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("event_type", "hour_id")
    },

    Q("q_stream_15_rate_burst",
      """WITH m AS (SELECT event_type, CAST(epoch_us(ts) // 60000000 AS BIGINT) AS minute_id FROM events),
        |c AS (SELECT event_type, minute_id, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1, 2),
        |s AS (SELECT event_type, minute_id, n,
        |       CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS mc,
        |       CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS s1,
        |       CAST(sum(n * n) OVER (PARTITION BY event_type) AS BIGINT) AS s2
        |      FROM c)
        |SELECT event_type, minute_id, n,
        | CASE WHEN CAST(mc AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) > 0
        |  THEN floor((CAST(mc AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE))
        |   / sqrt(CAST(mc AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |   * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS z
        |FROM s ORDER BY z DESC, event_type, minute_id LIMIT 10""".stripMargin) { (s, d) =>
      // Burst detection: per-(type, minute) rates z-scored against the
      // type's observed-minute distribution (population σ over minutes
      // WITH traffic — stated: silent minutes are q_time_7's concern).
      // z = (m·n − S)/√(m·S2 − S²) over exact BIGINT statistics carried
      // as per-type WINDOWS over the minute-agg table (single corpus
      // scan, no stats-table self-join) — one IEEE expression, so the
      // ORDER BY z is engine-stable; tiebreak is total. Zero-variance
      // guard: a type whose observed minutes all carry the same count
      // has σ=0 (common at tiny sf) — its z is defined as 0.
      val ev = Tables(s, d, "events")
        .select(col("event_type"), expr("unix_micros(ts) div 60000000").as("minute_id"))
      val byType = Window.partitionBy("event_type")
      val c = ev.groupBy("event_type", "minute_id").agg(count(lit(1)).as("n"))
        .withColumn("mc", count(lit(1)).over(byType))
        .withColumn("s1", sum("n").over(byType).cast("long"))
        .withColumn("s2", sum(col("n") * col("n")).over(byType).cast("long"))
      val den = col("mc").cast("double") * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double")
      c.select(col("event_type"), col("minute_id"), col("n"),
          when(den > 0,
            round((col("mc").cast("double") * col("n").cast("double") - col("s1").cast("double"))
              / sqrt(den), 6)).otherwise(0.0).as("z"))
        .orderBy(col("z").desc, col("event_type"), col("minute_id"))
        .limit(10)
    },

    Q("q_dedup_11_ensemble",
      """WITH k AS (SELECT doc_id, md5(lower(trim(text))) AS ek,
        |        md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS nk
        |       FROM documents),
        |f AS (SELECT doc_id,
        |       CASE WHEN count(*) OVER (PARTITION BY ek) > 1 THEN 1 ELSE 0 END AS is_exact,
        |       CASE WHEN count(*) OVER (PARTITION BY nk) > 1 THEN 1 ELSE 0 END AS is_near
        |      FROM k)
        |SELECT is_exact, is_near, CAST(count(*) AS BIGINT) AS n_docs
        |FROM f GROUP BY 1, 2 ORDER BY is_exact, is_near""".stripMargin) { (s, d) =>
      // Ensemble dedup classification: every doc labeled by BOTH the
      // exact-text method (q_dedup_1's normalization) and the
      // order-insensitive token-set method (q_dedup_2's) — the 2×2
      // contingency a pipeline owner reads to pick a dedup tier
      // (near-but-not-exact = reordered/near boilerplate). Two window
      // counts on digest keys; at 100 TB each is one hash shuffle of
      // (doc_id, 16-byte digest), not of the text.
      val k = Tables(s, d, "documents").select(col("doc_id"),
        md5(lower(trim(col("text")))).as("ek"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))).as("nk"))
      k.withColumn("is_exact", when(count(lit(1)).over(Window.partitionBy("ek")) > 1, 1).otherwise(0))
        .withColumn("is_near", when(count(lit(1)).over(Window.partitionBy("nk")) > 1, 1).otherwise(0))
        .groupBy("is_exact", "is_near").agg(count(lit(1)).as("n_docs"))
        .orderBy("is_exact", "is_near")
    },

    Q("q_stat_10_kendall",
      """WITH days AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
        |        CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        | CAST(sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        | floor((CAST(sum(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS DOUBLE)
        |      - CAST(sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS DOUBLE))
        |   / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS tau
        |FROM days a JOIN days b ON b.d > a.d""".stripMargin) { (s, d) =>
      // Kendall's tau-a of the daily event-count series against time —
      // the rank-based monotone-trend test completing the dependence
      // family (exact Pearson, Spearman, mutual information, Theil–Sen).
      // Day pairs with tied counts land in the denominator only
      // (tau-a; stated, not silently tau-b). Concordant/discordant are
      // exact integer counts over the CALENDAR-bounded O(days²) pair
      // join of a checkpointed day aggregate (the q_stat_9 shape — the
      // corpus is scanned once, the pair join never grows with SF).
      val day = Tables(s, d, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("d"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint()
      day.as("a").join(day.as("b"), col("b.d") > col("a.d"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("b.y") > col("a.y"), 1L).otherwise(0L)).as("nc"),
          sum(when(col("b.y") < col("a.y"), 1L).otherwise(0L)).as("nd"))
        .select(col("n_pairs"), col("nc"), col("nd"),
          round((col("nc").cast("double") - col("nd").cast("double"))
            / col("n_pairs").cast("double"), 6).as("tau"))
    },

    Q("q_graph_8_assortativity",
      s"""WITH de AS (SELECT DISTINCT src, dst FROM (${Round2Ops.duckEdges})),
         |sym AS (SELECT src, dst FROM de UNION SELECT dst, src FROM de),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg FROM sym GROUP BY 1),
         |p AS (SELECT da.dg AS x, db.dg AS y
         |      FROM sym JOIN deg da ON sym.src = da.node JOIN deg db ON sym.dst = db.node),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         |        CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy FROM p)
         |SELECT n,
         | CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |  THEN floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |   / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |   * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS assortativity
         |FROM st""".stripMargin) { (s, d) =>
      // Degree assortativity: Pearson correlation of endpoint degrees
      // over the symmetrized distinct edge set — do high-degree nodes
      // link to each other (hub-clique, r>0) or to leaves (hub-spoke,
      // r<0)? Degrees are distinct-neighbor counts, so every sufficient
      // statistic is an exact BIGINT; one closed-form IEEE expression
      // (zero-variance regular graphs defined r=0). The degree table is
      // node-sized and broadcasts onto the edge list — two broadcast
      // joins, no edge re-shuffle.
      // r14: distinct handoff edges from the session-scoped cache
      // (mod 1 — the identical derivation, materialized once)
      val de = graft.sources.SampledEdges.handoff(s, d, 1)
      val sym = de.union(de.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        .localCheckpoint()
      val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
      val p = sym
        .join(broadcast(deg).withColumnRenamed("node", "src").withColumnRenamed("dg", "x"), "src")
        .join(broadcast(deg).withColumnRenamed("node", "dst").withColumnRenamed("dg", "y"), "dst")
      val st = p.agg(count(lit(1)).as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"))
      val vx = col("n").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val vy = col("n").cast("double") * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      st.select(col("n"),
        when(vx * vy > 0,
          round((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")) / sqrt(vx * vy), 6))
          .otherwise(0.0).as("assortativity"))
    },

    Q("q_pipe_1_curation",
      """WITH base AS (SELECT doc_id, lang, text FROM documents WHERE n_chars >= 100),
        |e AS (SELECT doc_id, lang, text,
        |       min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS ek FROM base),
        |ex AS (SELECT doc_id, lang, text FROM e WHERE doc_id = ek),
        |n AS (SELECT doc_id, lang, text,
        |       min(doc_id) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS nk
        |      FROM ex),
        |kept AS (SELECT doc_id, lang, text FROM n WHERE doc_id = nk),
        |s AS (SELECT lang,
        |       CASE WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 100 < 80 THEN 'train'
        |            WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 100 < 90 THEN 'valid'
        |            ELSE 'test' END AS split,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |      FROM kept)
        |SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1, 2 ORDER BY split, lang""".stripMargin) { (s, d) =>
      // Flagship COMPOSITE: the canonical curation chain — length
      // filter → exact dedup (survivor = min id per normalized-text
      // digest) → near dedup (survivor = min id per token-set digest) →
      // deterministic split → per-(split, lang) doc/token accounting —
      // each stage the already-verified operator (q_text_5 /
      // q_dedup_1 / q_dedup_2 / q_text_13 / q_text_6), composed in ONE
      // declared query so the gate pins the interaction, not just the
      // parts. Shape at 100 TB: one corpus scan, two digest-keyed
      // window shuffles (16-byte keys, never the text re-shuffled
      // after the first hash), then a |splits·langs|-bounded agg.
      val base = Tables(s, d, "documents")
        .filter(col("n_chars") >= 100).select("doc_id", "lang", "text")
      val byEk = Window.partitionBy(md5(lower(trim(col("text")))))
      val ex = base.withColumn("ek", min("doc_id").over(byEk))
        .filter(col("doc_id") === col("ek")).drop("ek")
      val byNk = Window.partitionBy(
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))))
      val kept = ex.withColumn("nk", min("doc_id").over(byNk))
        .filter(col("doc_id") === col("nk")).drop("nk")
      val bucket = (pmod(col("doc_id"), lit(1000000007L)) * 2654435761L) % 1000000007L % 100
      kept.select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test").as("split"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split", "lang")
    },

    Q("q_sim_18_label_cos",
      """WITH e AS (SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
        |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 100000000 + 0.5) AS BIGINT) AS vi FROM embeddings),
        |cl AS (SELECT label, pos,
        |        CAST(floor(CAST(sum(vi) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |cg AS (SELECT pos,
        |        CAST(floor(CAST(sum(vi) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS g FROM e GROUP BY 1)
        |SELECT cl.label,
        | floor(CAST(sum(cl.c * cg.g) AS DOUBLE)
        |   / (sqrt(CAST(sum(cl.c * cl.c) AS DOUBLE)) * sqrt(CAST(sum(cg.g * cg.g) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cos_to_global
        |FROM cl JOIN cg ON cl.pos = cg.pos
        |GROUP BY 1 ORDER BY label""".stripMargin) { (s, d) =>
      // Cluster-drift diagnostic: cosine of each label's centroid to the
      // global centroid — labels whose centroid barely deviates from the
      // global mean carry no cluster signal (near-1 cosine), strong
      // clusters point away. Same exploded-centroid machinery as
      // q_sim_3; both centroid tables are (labels·dim)-sized, the join
      // and final agg are driver-trivial at any corpus scale.
      // Determinism: components pre-quantize to 1e8-scaled BIGINTs (1e8,
      // not 1e6: centroid grid error reaches the cosine ~linearly, and
      // 1e-8 keeps it inside the 6-decimal output rounding), so every
      // aggregate is exact integer addition; each centroid is ONE
      // correctly-rounded IEEE division (sum/count) re-quantized to a
      // BIGINT, cosine is scale-invariant so the dropped 1e8/n factors
      // cancel, and the dot/norm sums (≤1e16 per term · 64 dims, unit-
      // scale components) stay inside exact BIGINT range — no order-
      // dependent float sum anywhere, matching the file's discipline
      // note.
      val e = Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).as("pos"),
          floor(col("col").cast("double") * 100000000 + 0.5).cast("long").as("vi"))
      def centroid = floor(sum("vi").cast("double") / count(lit(1)) + 0.5).cast("long")
      val cl = e.groupBy("label", "pos").agg(centroid.as("c"))
      val cg = e.groupBy("pos").agg(centroid.as("g"))
      cl.join(broadcast(cg), "pos")
        .groupBy("label")
        .agg(round(sum(col("c") * col("g")).cast("double")
          / (sqrt(sum(col("c") * col("c")).cast("double"))
            * sqrt(sum(col("g") * col("g")).cast("double"))), 6)
          .as("cos_to_global"))
        .orderBy("label")
    }
  )
}
