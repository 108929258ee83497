package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.TextFunctions.tokens
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 additions (SURVEY §2.11j): corpus-distribution divergence
  * (Jensen–Shannon), lexical diagnostics (readability proxy, Simpson
  * diversity), classical inference (one-way ANOVA, Wald–Wolfowitz runs
  * test), key-space gap audit, and lagged cross-correlation between two
  * event streams.
  *
  * Determinism discipline (§2.12, unchanged): every aggregate feeding a
  * float is an exact BIGINT/DECIMAL sufficient statistic; per-row
  * transcendental contributions are quantized to integers BEFORE the
  * order-free integer sum (the q_agg_28 entropy precedent); each emitted
  * float is ONE fixed-shape IEEE expression mirrored verbatim in the
  * DuckDB oracle; every result ends in a total ORDER BY.
  */
object Round5Ops {

  val all: Seq[Q] = Seq(

    Q("q_text_32_jsd",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |w AS (SELECT lang, token, c,
        |  CAST(sum(c) OVER (PARTITION BY token) AS BIGINT) AS ct,
        |  CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS nl,
        |  CAST(sum(c) OVER () AS BIGINT) AS nn FROM c),
        |t AS (SELECT lang, nl, nn, ct,
        |  CAST(floor((0.5 * (CAST(c AS DOUBLE) / nl) * ln((CAST(c AS DOUBLE) / nl) / ((CAST(c AS DOUBLE) / nl + CAST(ct AS DOUBLE) / nn) / 2))
        |            + 0.5 * (CAST(ct AS DOUBLE) / nn) * ln((CAST(ct AS DOUBLE) / nn) / ((CAST(c AS DOUBLE) / nl + CAST(ct AS DOUBLE) / nn) / 2))) * 1000000000 + 0.5) AS BIGINT) AS j9
        | FROM w),
        |a AS (SELECT lang, CAST(max(nl) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(j9) AS BIGINT) AS jsum9, CAST(sum(ct) AS BIGINT) AS sl, CAST(max(nn) AS BIGINT) AS nn
        | FROM t GROUP BY 1)
        |SELECT lang, n_tokens, vocab,
        | floor((CAST(jsum9 AS DOUBLE) / 1000000000 + 0.5 * ln(2.0) * (1 - CAST(sl AS DOUBLE) / nn)) * 1000000 + 0.5) / 1000000 AS jsd
        |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      // Jensen–Shannon divergence of each language's unigram token
      // distribution vs the whole-corpus distribution — the drift/
      // contamination readout comparing a slice to its parent (the
      // distributional cousin of q_dq_18's PSI, which bins a numeric
      // column; this compares full categorical distributions).
      // Per-(lang, token) JSD contribution quantized to a 1e-9 integer
      // (the q_agg_28 pattern) → the per-language sum is order-free;
      // tokens the language never emits contribute 0.5·ln2·q in closed
      // form via the exact present-mass integer sl, so no lang×vocab
      // densification is needed. Scale: one corpus explode into a
      // map-side-combinable (lang, token) agg; the token marginal is a
      // token-PARTITIONED window (hash exchange, distributed), and the
      // lang marginal + grand total ride a broadcast per-lang aggregate
      // (≤|langs| rows; its global window is lang-dim bounded). The
      // previous global-total window forced the whole vocab table into
      // one partition and the lang/token marginal windows rode it
      // (SinglePartition satisfies any clustering requirement). Two
      // uses of the (lang, token) plan → AQE stage reuse dedups the
      // shared exchange (measured r9), so the corpus scans once.
      val c = Tables(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      val nlnn = c.groupBy("lang").agg(sum("c").as("nl"))
        .withColumn("nn", sum("nl").over(Window.partitionBy()))
      val withStats = c
        .withColumn("ct", sum("c").over(Window.partitionBy("token")))
        .join(broadcast(nlnn), "lang")
      val p = col("c").cast("double") / col("nl")
      val q = col("ct").cast("double") / col("nn")
      val m = (p + q) / 2
      withStats
        .select(col("lang"), col("nl"), col("nn"), col("ct"),
          floor((lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m)) * 1000000000L + 0.5)
            .cast("long").as("j9"))
        .groupBy("lang")
        .agg(max("nl").as("n_tokens"), count(lit(1)).as("vocab"),
          sum("j9").as("jsum9"), sum("ct").as("sl"), max("nn").as("nn"))
        .select(col("lang"), col("n_tokens"), col("vocab"),
          round(col("jsum9").cast("double") / 1000000000L +
            lit(0.5) * log(lit(2.0)) * (lit(1) - col("sl").cast("double") / col("nn")), 6).as("jsd"))
        .orderBy("lang")
    },

    Q("q_text_33_readability",
      """WITH d AS (SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |  CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syl,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars
        | FROM documents),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(words) AS BIGINT) AS words,
        |  CAST(sum(syl) AS BIGINT) AS syl, CAST(sum(chars) AS BIGINT) AS chars FROM d GROUP BY 1)
        |SELECT lang, n_docs, words AS n_words,
        | floor(CAST(chars AS DOUBLE) / CAST(words AS DOUBLE) * 10000 + 0.5) / 10000 AS avg_word_len,
        | floor(CAST(syl AS DOUBLE) / CAST(words AS DOUBLE) * 10000 + 0.5) / 10000 AS syll_per_word,
        | floor((206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(n_docs AS DOUBLE)) - 84.6 * (CAST(syl AS DOUBLE) / CAST(words AS DOUBLE))) * 10000 + 0.5) / 10000 AS flesch
        |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      // Per-language readability proxy: Flesch reading-ease computed from
      // exact integer counts, with vowel-group runs as the syllable proxy
      // and the document as the pseudo-sentence unit (the fixture corpus
      // has no sentence punctuation — stated, not hidden). The per-doc
      // projection is three codegen'd string expressions; the per-language
      // reduction is a map-side-combinable BIGINT agg, so one corpus scan
      // and a 5-row result at any scale. Quality screens gate on flesch
      // bands exactly like q_text_5's ratio thresholds.
      val dref = Tables(s, d, "documents").select(col("lang"),
        size(tokens(col("text"))).cast("long").as("words"),
        size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0))).cast("long").as("syl"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("chars"))
      dref.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("words").as("words"),
          sum("syl").as("syl"), sum("chars").as("chars"))
        .select(col("lang"), col("n_docs"), col("words").as("n_words"),
          round(col("chars").cast("double") / col("words").cast("double"), 4).as("avg_word_len"),
          round(col("syl").cast("double") / col("words").cast("double"), 4).as("syll_per_word"),
          round(lit(206.835) - lit(1.015) * (col("words").cast("double") / col("n_docs").cast("double"))
            - lit(84.6) * (col("syl").cast("double") / col("words").cast("double")), 4).as("flesch"))
        .orderBy("lang")
    },

    Q("q_text_34_simpson",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(c * (c - 1)) AS BIGINT) AS num FROM c GROUP BY 1)
        |SELECT lang, n AS n_tokens, vocab,
        | floor(CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS simpson,
        | CASE WHEN num > 0 THEN floor((CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / CAST(num AS DOUBLE) * 10000 + 0.5) / 10000 ELSE 0.0 END AS inv_simpson
        |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      // Simpson diversity of the per-language token distribution: the
      // probability two tokens drawn without replacement are identical
      // (Σ c(c−1) / n(n−1)) — an EXACT-rational concentration readout
      // that complements q_agg_28's entropy with zero transcendentals
      // (nothing to drift, not even a quantized log). inv_simpson is the
      // "effective vocabulary size" quality screens threshold on. Same
      // single-scan, vocab-bounded shape as entropy/Zipf.
      val c = Tables(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("c"))
      c.groupBy("lang")
        .agg(sum("c").as("n"), count(lit(1)).as("vocab"),
          sum(col("c") * (col("c") - 1)).as("num"))
        .select(col("lang"), col("n").as("n_tokens"), col("vocab"),
          round(col("num").cast("double") / (col("n").cast("double") * (col("n") - 1).cast("double")), 6).as("simpson"),
          when(col("num") > 0,
            round((col("n").cast("double") * (col("n") - 1).cast("double")) / col("num").cast("double"), 4))
            .otherwise(0.0).as("inv_simpson"))
        .orderBy("lang")
    },

    Q("q_stat_11_anova",
      """WITH c AS (SELECT o_orderpriority AS prio, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s,
        |  sum(cents * cents) AS ss,
        |  CAST(floor(CAST(sum(cents) AS DOUBLE) * CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 10000.0) AS BIGINT) AS t
        | FROM c GROUP BY 1),
        |w AS (SELECT prio, n, s,
        |  CAST(count(*) OVER () AS BIGINT) AS k,
        |  CAST(sum(n) OVER () AS BIGINT) AS nn,
        |  CAST(sum(s) OVER () AS BIGINT) AS stot,
        |  CAST(sum(t) OVER () AS BIGINT) AS tsum,
        |  CAST(floor(CAST(sum(ss) OVER () AS DOUBLE) / 10000.0) AS BIGINT) AS ssq
        | FROM g),
        |f AS (SELECT prio, n, s, k, nn,
        |  tsum - CAST(floor(CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(nn AS DOUBLE) / 10000.0) AS BIGINT) AS ssb,
        |  ssq - tsum AS ssw,
        |  ssq - CAST(floor(CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(nn AS DOUBLE) / 10000.0) AS BIGINT) AS sst
        | FROM w)
        |SELECT prio, n AS n_g, floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100 * 100 + 0.5) / 100 AS mean_g,
        | CASE WHEN ssw > 0 THEN floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE)) / (CAST(ssw AS DOUBLE) / CAST(nn - k AS DOUBLE)) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS f_stat,
        | CASE WHEN sst > 0 THEN floor(CAST(ssb AS DOUBLE) / CAST(sst AS DOUBLE) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS eta2
        |FROM f ORDER BY prio""".stripMargin) { (s, d) =>
      // One-way ANOVA of order value across the 5 priority classes: the
      // F statistic and effect size η² from exact sufficient statistics —
      // per-group (n, Σcents as BIGINT, Σcents² as DECIMAL(38,0): cents²
      // fits a long per row, the corpus sum does not). Each group's
      // between-term s²/n is floor-quantized to whole dollars² BEFORE the
      // 5-term sum (window over the group table), so no float accumulates
      // across rows anywhere. Completes the location-test family (Welch
      // t = 2 groups, Mann-Whitney = ranks) with the k-group parametric
      // test. Scale: one map-side-combinable agg; everything after is
      // 5-row arithmetic.
      val c = Tables(s, d, "orders").select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val g = c.groupBy("prio").agg(
        count(lit(1)).as("n"), sum("cents").as("s"),
        sum((col("cents") * col("cents")).cast(DecimalType(38, 0))).as("ss"),
        floor(sum("cents").cast("double") * sum("cents").cast("double")
          / count(lit(1)).cast("double") / 10000.0).cast("long").as("t"))
      val wAll = Window.partitionBy()
      val w = g.select(col("prio"), col("n"), col("s"),
        count(lit(1)).over(wAll).as("k"),
        sum("n").over(wAll).as("nn"),
        sum("s").over(wAll).as("stot"),
        sum("t").over(wAll).as("tsum"),
        floor(sum("ss").over(wAll).cast("double") / 10000.0).cast("long").as("ssq"))
      val grand = floor(col("stot").cast("double") * col("stot").cast("double")
        / col("nn").cast("double") / 10000.0).cast("long")
      val f = w.select(col("prio"), col("n"), col("s"), col("k"), col("nn"),
        (col("tsum") - grand).as("ssb"),
        (col("ssq") - col("tsum")).as("ssw"),
        (col("ssq") - grand).as("sst"))
      f.select(col("prio"), col("n").as("n_g"),
        (floor(col("s").cast("double") / col("n").cast("double") / 100 * 100 + 0.5) / 100).as("mean_g"),
        when(col("ssw") > 0,
          round((col("ssb").cast("double") / (col("k") - 1).cast("double"))
            / (col("ssw").cast("double") / (col("nn") - col("k")).cast("double")), 6))
          .otherwise(0.0).as("f_stat"),
        when(col("sst") > 0, round(col("ssb").cast("double") / col("sst").cast("double"), 6))
          .otherwise(0.0).as("eta2"))
        .orderBy("prio")
    },

    Q("q_stat_12_runs",
      """WITH dly AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |st AS (SELECT day_id, cnt, CAST(row_number() OVER (ORDER BY cnt, day_id) AS BIGINT) AS rn, CAST(count(*) OVER () AS BIGINT) AS n FROM dly),
        |m AS (SELECT min(CASE WHEN rn = (n + 1) // 2 THEN cnt END) AS med FROM st),
        |sg AS (SELECT day_id, CASE WHEN cnt > m.med THEN 1 ELSE 0 END AS sign FROM dly, m WHERE cnt <> m.med),
        |ch AS (SELECT sign, lag(sign) OVER (ORDER BY day_id) AS prev FROM sg),
        |agg AS (SELECT COALESCE(CAST(sum(sign) AS BIGINT), 0) AS n1, COALESCE(CAST(sum(1 - sign) AS BIGINT), 0) AS n2,
        |  COALESCE(CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sign <> prev THEN 1 ELSE 0 END) AS BIGINT), 0) AS runs FROM ch)
        |SELECT d.n_days, m.med, a.n1, a.n2, a.runs,
        | CASE WHEN a.n1 > 0 AND a.n2 > 0 AND (2 * a.n1 * a.n2 - a.n1 - a.n2) > 0 THEN
        |  floor((CAST(a.runs AS DOUBLE) - (CAST(2 * a.n1 * a.n2 AS DOUBLE) / CAST(a.n1 + a.n2 AS DOUBLE) + 1))
        |   / sqrt(CAST(2 * a.n1 * a.n2 * (2 * a.n1 * a.n2 - a.n1 - a.n2) AS DOUBLE)
        |     / (CAST(a.n1 + a.n2 AS DOUBLE) * CAST(a.n1 + a.n2 AS DOUBLE) * CAST(a.n1 + a.n2 - 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000
        | ELSE 0.0 END AS z
        |FROM agg a, m, (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dly) d""".stripMargin) { (s, d) =>
      // Wald–Wolfowitz runs test on the daily event-count series: are
      // above/below-median days randomly interleaved, or does traffic
      // cluster (campaign weeks, outage troughs)? The median is the exact
      // ⌈n/2⌉-th order statistic (an integer — no mid-average float),
      // days equal to it are dropped (the classical treatment, stated),
      // and the run count is a lag-compare over day order. All sufficient
      // statistics are small exact integers → one IEEE z expression.
      // Completes the randomness/independence corner of the stat family
      // (trend = Kendall/Theil–Sen, distribution = KS/chi², sequence
      // randomness = this). Scale: the corpus collapses to one row per
      // day first; everything after is days-bounded.
      val dly = Tables(s, d, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("day_id"))
        .groupBy("day_id").agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val st = dly
        .withColumn("rn", row_number().over(Window.orderBy("cnt", "day_id")).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      val med = st.agg(min(when(col("rn") === expr("(n + 1) div 2"), col("cnt"))).as("med"))
      val sg = dly.crossJoin(broadcast(med)).filter(col("cnt") =!= col("med"))
        .select(col("day_id"), col("med"), when(col("cnt") > col("med"), 1).otherwise(0).as("sign"))
      val ch = sg.withColumn("prev", lag("sign", 1).over(Window.orderBy("day_id")))
      val agg = ch.agg(
        coalesce(sum("sign"), lit(0L)).cast("long").as("n1"),
        coalesce(sum(lit(1) - col("sign")), lit(0L)).cast("long").as("n2"),
        coalesce(lit(1) + sum(when(col("prev").isNotNull && col("sign") =!= col("prev"), 1).otherwise(0)), lit(0L))
          .cast("long").as("runs"))
      val nDays = dly.agg(count(lit(1)).as("n_days"))
      val mu = col("n1") * col("n2") * 2
      agg.crossJoin(broadcast(med)).crossJoin(broadcast(nDays))
        .select(col("n_days"), col("med"), col("n1"), col("n2"), col("runs"),
          when(col("n1") > 0 && col("n2") > 0 && (mu - col("n1") - col("n2")) > 0,
            round((col("runs").cast("double") - (mu.cast("double") / (col("n1") + col("n2")).cast("double") + 1))
              / sqrt((mu * (mu - col("n1") - col("n2"))).cast("double")
                / ((col("n1") + col("n2")).cast("double") * (col("n1") + col("n2")).cast("double")
                  * (col("n1") + col("n2") - 1).cast("double"))), 6))
            .otherwise(0.0).as("z"))
    },

    Q("q_dq_22_id_gaps",
      """WITH k AS (SELECT DISTINCT event_id AS id FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM k)
        |SELECT id + 1 AS gap_start, nxt - 1 AS gap_end, CAST(nxt - id - 1 AS BIGINT) AS gap_len
        |FROM w WHERE nxt IS NOT NULL AND nxt - id > 1
        |ORDER BY gap_len DESC, gap_start LIMIT 20""".stripMargin) { (s, d) =>
      // Sequence-gap audit: the 20 largest holes in the purchase
      // stream's global sequence numbers — the "did the extractor
      // silently drop a batch / did the stream go quiet" report (a
      // missing id RANGE is the classic symptom, and per-key refint
      // checks like q_dq_2 cannot see it). event_id is a global sequence
      // the fixture interleaves across types, so the purchase slice has
      // holes by construction — exactly the shape of a per-topic
      // continuity audit. Adjacent pairs are the non-null rows of the
      // global Pipelines.groupLeadLong: repartitionByRange(id) +
      // per-partition lead, with each partition's last row stitched to
      // the next non-empty partition's first off a P-row driver
      // exchange — never a single-partition lead window (the gap filter
      // drops the null lead); the report stays top-20.
      val k = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("id")).distinct()
      graft.api.Pipelines.groupLeadLong(k, Nil, Seq(col("id")), "id", "nxt")
        .filter(col("nxt") - col("id") > 1)
        .select((col("id") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"),
          (col("nxt") - col("id") - 1).cast("long").as("gap_len"))
        .orderBy(col("gap_len").desc, col("gap_start"))
        .limit(20)
    },

    Q("q_time_8_xcorr",
      """WITH e AS (SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h FROM events WHERE event_type IN ('click', 'purchase')),
        |b AS (SELECT h, CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y FROM e GROUP BY 1),
        |g AS (SELECT CAST(unnest(generate_series((SELECT min(h) FROM b), (SELECT max(h) FROM b))) AS BIGINT) AS h),
        |dd AS (SELECT g.h, COALESCE(b.x, 0) AS x, COALESCE(b.y, 0) AS y FROM g LEFT JOIN b ON b.h = g.h),
        |l AS (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT) AS lag),
        |p AS (SELECT l.lag, a.x AS x, c.y AS y FROM l JOIN dd a ON true JOIN dd c ON c.h = a.h + l.lag),
        |st AS (SELECT lag, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(x * y) AS BIGINT) AS sxy
        | FROM p GROUP BY 1)
        |SELECT lag, n, CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        | THEN floor((CAST(n * sxy - sx * sy AS DOUBLE) / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000 + 0.5) / 1000000
        | ELSE 0.0 END AS r
        |FROM st ORDER BY lag""".stripMargin) { (s, d) =>
      // Lead/lag cross-correlation between two event streams: Pearson r
      // of hourly click counts vs purchase counts L hours later, L=0..6 —
      // the "does engagement convert, and how fast" readout (q_time_5's
      // ACF is the self-paired special case). The corpus collapses to the
      // dense zero-filled hourly pair series FIRST (q_time_7's spine
      // discipline), so the lag join is hours×7 rows regardless of corpus
      // size; all Pearson inputs are exact BIGINT sums.
      val ev = Tables(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      val b = ev.groupBy("h").agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).cast("long").as("x"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("y"))
      val bounds = b.agg(min("h").as("lo"), max("h").as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("h"))
      val dd = broadcast(spine).join(b, Seq("h"), "left")
        .select(col("h"), coalesce(col("x"), lit(0L)).as("x"), coalesce(col("y"), lit(0L)).as("y"))
        .localCheckpoint()
      val lags = s.range(0, 7).select(col("id").as("lag"))
      val a = dd.select(col("h").as("ah"), col("x"))
      val c2 = dd.select(col("h").as("ch"), col("y"))
      val p = broadcast(lags).join(a, lit(true)).join(c2, col("ch") === col("ah") + col("lag"))
      val st = p.groupBy("lag").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      st.select(col("lag"), col("n"),
        when(vx > 0 && vy > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(vx.cast("double") * vy.cast("double")), 6))
          .otherwise(0.0).as("r"))
        .orderBy("lag")
    }
  )
}
