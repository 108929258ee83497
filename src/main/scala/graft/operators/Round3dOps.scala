package graft.operators

import graft.Q
import graft.functions.KMeans
import graft.functions.Num.round
import graft.functions.TextFunctions.tokens
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3d additions (SURVEY §2.11g): distribution-comparison tests and
  * retrieval scoring — the last statistics a data-curation team reaches
  * for before shipping a training mix (did split A and split B draw from
  * the same distribution? is this numeric column organically generated or
  * synthetic/fabricated?) plus the classic lexical ranker (BM25) and a
  * robust location estimate (trimmed mean).
  *
  * Shared discipline (as §2.11e/f): every statistic keeps its sufficient
  * statistics in BIGINT until one final fixed-shape IEEE expression (the
  * q_stat_2 precedent), so no float ever aggregates and the result is
  * bit-identical across engines and partitionings. BM25's per-term float
  * scores are quantized to 1e-6 BEFORE the per-doc sum, making the
  * summation an integer reduction with no addition-order hazard.
  */
object Round3dOps {

  val all: Seq[Q] = Seq(

    Q("q_stat_3_ks",
      """WITH s AS (SELECT value AS v, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
        |           FROM events WHERE event_type IN ('click','view')),
        |pts AS (SELECT v, CAST(sum(ia) AS BIGINT) AS c1, CAST(count(*) - sum(ia) AS BIGINT) AS c2
        |        FROM s GROUP BY v),
        |cum AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
        |               CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS cum2 FROM pts),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM pts)
        |SELECT n.n1 AS n1, n.n2 AS n2,
        | CAST(max(abs(n.n2 * cum.cum1 - n.n1 * cum.cum2)) AS BIGINT) AS d_num,
        | floor(CAST(max(abs(n.n2 * cum.cum1 - n.n1 * cum.cum2)) AS DOUBLE)
        |       / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS d_stat
        |FROM cum, n GROUP BY n.n1, n.n2""".stripMargin) { (s, d) =>
      // Two-sample Kolmogorov–Smirnov between the click and view `value`
      // distributions.
      graft.api.Pipelines.ksTest(Tables(s, d, "events"), "value", "event_type", "click", "view")
    },

    Q("q_stat_4_mannwhitney",
      """WITH s AS (SELECT value AS v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
        |           FROM events WHERE event_type IN ('purchase','signup')),
        |pts AS (SELECT v, CAST(sum(ia) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY v),
        |cum AS (SELECT c1, c, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) - c AS prior FROM pts),
        |agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c - c1) AS BIGINT) AS n2,
        |               CAST(sum(c1 * (2 * (prior + 1) + c - 1)) AS BIGINT) AS two_r1 FROM cum)
        |SELECT n1, n2, two_r1, two_r1 - n1 * (n1 + 1) AS two_u1,
        | floor(((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
        |   / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) / 12.0)) * 1000000 + 0.5) / 1000000 AS z
        |FROM agg""".stripMargin) { (s, d) =>
      // Mann–Whitney U (rank-sum) test: purchase vs signup `value`. The
      // rank machinery stays integral via the doubled-average-rank trick
      // (q_agg_26's Spearman lesson): members tied at a value v all take
      // avg rank r_lo + (c−1)/2, so 2·R1 = Σ_v c1·(2·r_lo + c − 1) is a
      // BIGINT under any tie order. U1 = R1 − n1(n1+1)/2 is emitted
      // doubled (two_u1) to stay integral; the normal-approximation z
      // (no tie correction — documented) is ONE fixed IEEE expression
      // over four exact integers, the q_stat_2 precedent. Same global
      // distinct-value cumsum note as q_stat_3_ks.
      val src = Tables(s, d, "events")
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("value").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("ia"))
      val pts = src.groupBy("v").agg(sum("ia").as("c1"), count(lit(1)).as("c"))
      // range-partitioned integer cumsum (Pipelines.prefixSum) — no
      // one-task window over the distinct-value grid
      val cum = graft.api.Pipelines.prefixSum(pts, Seq("v"), "c", "__cums")
        .select(col("c1"), col("c"), (col("__cums") - col("c")).as("prior"))
      val agg = cum.agg(
        sum("c1").as("n1"),
        sum(col("c") - col("c1")).as("n2"),
        sum(col("c1") * (lit(2L) * (col("prior") + 1L) + col("c") - 1L)).as("two_r1"))
      agg.select(col("n1"), col("n2"), col("two_r1"),
        (col("two_r1") - col("n1") * (col("n1") + 1L)).as("two_u1"),
        round(((col("two_r1") - col("n1") * (col("n1") + 1L)).cast("double") / 2.0
            - col("n1").cast("double") * col("n2").cast("double") / 2.0)
          / sqrt(col("n1").cast("double") * col("n2").cast("double")
            * (col("n1").cast("double") + col("n2").cast("double") + 1.0) / 12.0), 6).as("z"))
    },

    Q("q_dq_16_benford",
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM c),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
        |SELECT digit, n,
        | floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) * 1000000 + 0.5) / 1000000 AS pct,
        | floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS benford_pct
        |FROM g, t ORDER BY digit""".stripMargin) { (s, d) =>
      // Benford first-digit profile of order totals — the forensic
      // data-quality screen for fabricated/synthetic numeric columns.
      // The leading digit is extracted from the exact-cents BIGINT's
      // decimal string (no log-of-value trick, whose floor(log10) can
      // disagree across engines one ulp below a power of ten). Observed
      // share vs the Benford expectation log10(1+1/d): both are single
      // fixed IEEE expressions (the log10 constants sit ≥4e-9 from the
      // 6-decimal rounding boundary — checked). One map-side-combinable
      // 9-group aggregate; scale-independent output.
      val cents = Tables(s, d, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val dig = cents.select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      val g = dig.groupBy("digit").agg(count(lit(1)).as("n"))
      // total via an unpartitioned window over g's 9 rows (the psi
      // pattern) — a separate totals aggregate re-derives g
      val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("total", sum("n").over(wAll))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("pct"),
          round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6).as("benford_pct"))
        .orderBy("digit")
    },

    Q("q_text_22_bm25",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
        |       WHERE token IN ('vector','merge','filter') GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok
        |       WHERE token IN ('vector','merge','filter') GROUP BY 1),
        |scored AS (SELECT tf.doc_id,
        |  CAST(floor((ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * 2.2)
        |    / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / (CAST(stats.tot AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))) * 1000000 + 0.5) AS BIGINT) AS s6
        | FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats),
        |total AS (SELECT doc_id, CAST(sum(s6) AS BIGINT) AS s6 FROM scored GROUP BY doc_id)
        |SELECT doc_id, CAST(s6 AS DOUBLE) / 1000000 AS score, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT doc_id, s6, row_number() OVER (ORDER BY s6 DESC, doc_id ASC) AS rn FROM total)
        |WHERE rn <= 10 ORDER BY rn""".stripMargin) { (s, d) =>
      // BM25 top-10 documents for the query {vector, merge, filter}
      // (at 100 TB the top-k goes per-partition then merges, the
      // q_agg_23 native aggregate).
      graft.api.Pipelines.bm25(Tables(s, d, "documents"), "doc_id", "text",
          Seq("vector", "merge", "filter"))
        .orderBy("rn")
    },

    Q("q_agg_27_trimmed_mean",
      """WITH p AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.1) AS p10,
        |                  quantile_cont(l_extendedprice, 0.9) AS p90 FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n_kept,
        | floor(CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / (CAST(count(*) AS DOUBLE) * 100) * 100 + 0.5) / 100 AS trimmed_mean
        |FROM lineitem l JOIN p ON l.l_returnflag = p.l_returnflag
        |WHERE l.l_extendedprice >= p.p10 AND l.l_extendedprice <= p.p90
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) { (s, d) =>
      // 10%-trimmed mean per return flag — the robust location estimate
      // between mean (outlier-fragile) and median (throws away 98% of
      // the data). Two passes: per-group p10/p90 (Spark `percentile` ==
      // DuckDB `quantile_cont`, the q_agg_11 parity), broadcast the
      // 3-row boundary table back, filter, exact-cents mean. Boundary
      // safety: when q·(n−1) is integral both engines return a data
      // point EXACTLY (no arithmetic); when fractional the interpolated
      // value lies strictly between adjacent distinct cents, so a <=/>=
      // comparison against it can never flip on an ulp. Never co-shuffles
      // the fact table — the percentile pass is the only wide exchange.
      val li = Tables(s, d, "lineitem")
      // ONE array-percentile aggregate instead of two scalar ones (r14):
      // percentile is a TypedImperativeAggregate — each call buffers
      // every value in its own ObjectHashAggregate map — so the two
      // separate p10/p90 calls doubled the non-codegen buffering (guide
      // §4). The array form computes both cut points from one buffer;
      // the returned values are the identical interpolated order
      // statistics.
      val p = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.1, 0.9))").as("pp"))
        .select(col("l_returnflag"),
          element_at(col("pp"), 1).as("p10"), element_at(col("pp"), 2).as("p90"))
      li.join(broadcast(p), "l_returnflag")
        .filter(col("l_extendedprice") >= col("p10") && col("l_extendedprice") <= col("p90"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_kept"),
          round(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).cast("double")
            / (count(lit(1)).cast("double") * 100), 2).as("trimmed_mean"))
        .orderBy("l_returnflag")
    },

    Q("q_text_23_perplexity",
      """WITH b AS (SELECT doc_id, struct_extract(p, 1) AS w1, struct_extract(p, 2) AS w2 FROM (
        |  SELECT doc_id, unnest(list_zip(
        |    list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1),
        |    list_slice(string_split(text, ' '), 2, len(string_split(text, ' '))))) AS p
        |  FROM documents)),
        |lm AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
        |uni AS (SELECT w1 AS u1, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS vocab FROM b),
        |sc AS (SELECT b.doc_id,
        |  CAST(floor(ln((CAST(lm.c12 AS DOUBLE) + 1.0) / (CAST(uni.c1 AS DOUBLE) + CAST(v.vocab AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS l6
        | FROM b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2 JOIN uni ON b.w1 = uni.u1, v),
        |doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(l6) AS BIGINT) AS sum_l6 FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams, sum_l6,
        | floor(exp(-(CAST(sum_l6 AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1000000.0))) * 10000 + 0.5) / 10000 AS ppl,
        | CAST(ntile(3) OVER (ORDER BY CAST(sum_l6 AS DOUBLE) / CAST(n_bigrams AS DOUBLE) DESC, doc_id) AS BIGINT) AS bucket
        |FROM doc ORDER BY doc_id""".stripMargin) { (s, d) =>
      // CCNet-style perplexity bucketing: add-one-smoothed bigram LM
      // p(w2|w1) = (c12+1)/(c1+V), per-doc perplexity
      // exp(−mean log p), docs split into head/middle/tail terciles —
      // the standard LM-quality gate on web corpora. The per-bigram log
      // probs are QUANTIZED to 1e-6 integers BEFORE the per-doc sum (the
      // q_text_22 discipline), so the doc score is an integer and the
      // tercile order (avg, doc_id) is bit-identical across engines;
      // exp/ln appear only in fixed per-row expressions. Same
      // no-broadcast-hint stance as q_text_16: AQE sizes the LM joins
      // from measured stats (post-tokenizer vocab broadcasts; a raw-text
      // "vocab" of typos/URLs degrades to shuffle joins safely). Fixture
      // docs all have ≥10 tokens, so no doc loses its bigram row.
      val toks = tokens(col("text"))
      val big = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(arrays_zip(
            slice(toks, lit(1), size(toks) - 1).as("w1"),
            slice(toks, lit(2), size(toks) - 1).as("w2"))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      val lm = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      // unigram counts and vocab both roll up from the LM table
      // (Σ_w2 c12 = c1; vocab = distinct w2) — deriving them from the
      // bigram stream again would cost two more scan+explode passes
      val uni = lm.groupBy("w1").agg(sum("c12").as("c1"))
        .withColumnRenamed("w1", "u1")
      val v = lm.agg(countDistinct("w2").as("vocab"))
      val sc = big.join(lm, Seq("w1", "w2"))
        .join(uni, col("w1") === col("u1"))
        .crossJoin(broadcast(v))
        .select(col("doc_id"),
          floor(log((col("c12").cast("double") + 1.0)
            / (col("c1").cast("double") + col("vocab").cast("double"))) * 1000000 + 0.5)
            .cast("long").as("l6"))
      val doc = sc.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("l6").as("sum_l6"))
      // builtin-identical ntile(3) via exactGlobalRankByN + ntileOfRank
      // — range-partitioned on the (mean-l6 DESC, doc_id) total order,
      // no one-task window over the doc-scale table; n rides the same
      // per-partition count pass as the rank
      val (nDoc, ranked) = graft.api.Pipelines.exactGlobalRankByN(doc,
        Seq((col("sum_l6").cast("double") / col("n_bigrams").cast("double")).desc,
          col("doc_id")), "__rk")
      ranked
        .select(col("doc_id"), col("n_bigrams"), col("sum_l6"),
          round(exp(-(col("sum_l6").cast("double") / (col("n_bigrams").cast("double") * 1000000.0))), 4).as("ppl"),
          graft.api.Pipelines.ntileOfRank(col("__rk"), nDoc, 3).as("bucket"))
        .orderBy("doc_id")
    },

    Q("q_agg_28_entropy",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS vocab FROM c GROUP BY 1),
        |h AS (SELECT c.lang AS hlang,
        |  CAST(sum(CAST(floor(-(CAST(c.c AS DOUBLE) / CAST(n.n_tokens AS DOUBLE)) * ln(CAST(c.c AS DOUBLE) / CAST(n.n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS h6
        | FROM c JOIN n ON c.lang = n.lang GROUP BY 1)
        |SELECT n.lang AS lang, n.n_tokens AS n_tokens, n.vocab AS vocab, h.h6 AS h6,
        | floor(CAST(h.h6 AS DOUBLE) / 1000000 / ln(2.0) * 10000 + 0.5) / 10000 AS h_bits,
        | floor(CAST(h.h6 AS DOUBLE) / 1000000 / ln(CAST(n.vocab AS DOUBLE)) * 10000 + 0.5) / 10000 AS h_norm
        |FROM h JOIN n ON h.hlang = n.lang ORDER BY lang""".stripMargin) { (s, d) =>
      // Shannon entropy of the per-language token distribution — the
      // corpus-diversity readout (low normalized entropy = repetitive/
      // templated text; the aggregate cousin of q_text_17's per-doc
      // repetition filters). Each token's −p·ln p contribution is
      // quantized to a 1e-6 integer, so the per-language entropy is an
      // integer SUM (no float-accumulation-order hazard) and h_bits /
      // h_norm are fixed IEEE expressions over exact integers. Two
      // map-side-combinable aggregates; the per-language stats table is
      // language-bounded → broadcast back.
      val tok = Tables(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
      val c = tok.groupBy("lang", "token").agg(count(lit(1)).as("c"))
      // per-language stats as windows over the (lang, token) count table
      // (vocab-bounded — tiny) instead of a separate aggregate branch
      // that would re-derive c from the token stream; carried through
      // the final aggregate as max (constant per group)
      val wLang = Window.partitionBy("lang")
      val withStats = c
        .withColumn("n_tokens", sum("c").over(wLang))
        .withColumn("vocab", count(lit(1)).over(wLang))
      val p = col("c").cast("double") / col("n_tokens").cast("double")
      withStats
        .select(col("lang"), col("n_tokens"), col("vocab"),
          floor(-p * log(p) * 1000000 + 0.5).cast("long").as("h6c"))
        .groupBy("lang")
        .agg(max("n_tokens").as("n_tokens"), max("vocab").as("vocab"), sum("h6c").as("h6"))
        .select(col("lang"), col("n_tokens"), col("vocab"), col("h6"),
          round(col("h6").cast("double") / 1000000 / log(lit(2.0)), 4).as("h_bits"),
          round(col("h6").cast("double") / 1000000 / log(col("vocab").cast("double")), 4).as("h_norm"))
        .orderBy("lang")
    },

    Q("q_scan_15_partition_prune",
      "SELECT doc_id, n_chars FROM documents WHERE lang = 'fr' ORDER BY doc_id") { (s, d) =>
      // Partition-pruned read: write the corpus hive-partitioned by
      // language, read back ONE partition through a lang filter. The
      // oracle reads the unpartitioned source — equality proves the
      // layout round-trips AND the pruned scan misses nothing. The plan
      // contract (Round3dOpsSpec) pins `PartitionFilters` on the scan:
      // at 100 TB this is the difference between reading one language's
      // directory and the whole corpus. Completes q_sink_1 (partitioned
      // write) with the read-side pruning proof.
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_rt_prune_${s.sparkContext.applicationId}"
      Tables(s, d, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("lang") === "fr")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },

    Q("q_agg_29_gini",
      """WITH c AS (SELECT o_orderpriority AS prio, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents, o_orderkey FROM orders),
        |r AS (SELECT prio, cents, CAST(row_number() OVER (PARTITION BY prio ORDER BY cents, o_orderkey) AS BIGINT) AS i FROM c),
        |a AS (SELECT prio, CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s, CAST(sum(i * cents) AS BIGINT) AS w FROM r GROUP BY prio)
        |SELECT prio, n, floor((CAST(2 * w - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS gini
        |FROM a ORDER BY prio""".stripMargin) { (s, d) =>
      // Gini coefficient of order value per priority class — the
      // imbalance readout for "is one segment's spend concentrated in a
      // few giant orders" (and, on corpora: token-mass concentration
      // across sources). Sorted-rank identity G = (2·Σi·xᵢ −
      // (n+1)·Σxᵢ)/(n·Σxᵢ) over ascending exact cents: every sum is
      // BIGINT (ties contribute identically under any permutation — x
      // constant within a tie — and (cents, orderkey) is total anyway);
      // the rank index comes from Pipelines.exactGroupRankCount (r13 —
      // the 5-value prio window was a 5-task corpus sort; the
      // range-partitioned rank keeps every task ~N/P), then one
      // aggregate. Σi·x ~ n²·x̄ overflows BIGINT around n≈1e8 per
      // group — swap the rank/sum columns to DECIMAL(38,0) there
      // (q_agg_26's escalation path).
      val c = Tables(s, d, "orders")
        .select(col("o_orderpriority").as("prio"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          col("o_orderkey"))
      graft.api.Pipelines.exactGroupRankCount(c,
          Seq("prio"), Seq(col("cents"), col("o_orderkey")), "i", "__ng")
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"), sum(col("i") * col("cents")).as("w2"))
        .select(col("prio"), col("n"),
          round((lit(2) * col("w2") - (col("n") + 1) * col("s")).cast("double")
            / (col("n") * col("s")).cast("double"), 6).as("gini"))
        .orderBy("prio")
    },

    Q("q_dq_17_cusum",
      """WITH x AS (SELECT l_suppkey AS k, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c, l_orderkey, l_linenumber FROM lineitem),
        |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s FROM x GROUP BY k),
        |r AS (SELECT x.k AS k, a.n AS n, a.s AS s,
        |  CAST(sum(x.c) OVER (PARTITION BY x.k ORDER BY x.l_orderkey, x.l_linenumber, x.c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p,
        |  CAST(row_number() OVER (PARTITION BY x.k ORDER BY x.l_orderkey, x.l_linenumber, x.c) AS BIGINT) AS i
        | FROM x JOIN a ON x.k = a.k),
        |m AS (SELECT k, n, s, CAST(max(abs(n * p - i * s)) AS BIGINT) AS max_cusum FROM r GROUP BY k, n, s)
        |SELECT k AS l_suppkey, n, max_cusum,
        | floor(CAST(max_cusum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS rel
        |FROM m ORDER BY l_suppkey""".stripMargin) { (s, d) =>
      // CUSUM change-point screen: per supplier, the maximum cumulative
      // deviation of line revenue from the supplier's own mean over the
      // (orderkey, linenumber) sequence — the classic "did this feed's
      // level shift mid-stream" detector. Division-free integer core:
      // CUSUM_k = Σ≤k(xᵢ − S/n) scaled by n is n·Pₖ − k·S, exact in
      // BIGINT; `rel` normalizes by n·S so a sustained shift of r%
      // reads as ≈ r/4 at the midpoint. Two shuffles on the supplier
      // key (stats + window); the stats table joins back broadcast.
      // n·P overflows BIGINT near n≈1e8 rows per key — DECIMAL(38)
      // escalation as q_agg_29. Window order carries c because
      // (orderkey, linenumber) is not unique in the fixtures (q_win_10's
      // lesson); ties are c-identical so prefix sums are unaffected.
      val li = Tables(s, d, "lineitem")
        .select(col("l_suppkey").as("k"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("c"),
          col("l_orderkey"), col("l_linenumber"))
      val a = li.groupBy("k").agg(count(lit(1)).as("n"), sum("c").as("s"))
      val w = Window.partitionBy("k").orderBy("l_orderkey", "l_linenumber", "c")
      li.join(broadcast(a), "k")
        .select(col("k"), col("n"), col("s"),
          sum("c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("p"),
          row_number().over(w).cast("long").as("i"))
        .groupBy("k", "n", "s")
        .agg(max(abs(col("n") * col("p") - col("i") * col("s"))).as("max_cusum"))
        .select(col("k").as("l_suppkey"), col("n"), col("max_cusum"),
          round(col("max_cusum").cast("double")
            / (col("n").cast("double") * col("s").cast("double")), 6).as("rel"))
        .orderBy("l_suppkey")
    },

    Q("q_dq_18_psi",
      """WITH a AS (SELECT value AS v FROM events WHERE event_type = 'click'),
        |b AS (SELECT value AS v FROM events WHERE event_type = 'view'),
        |q AS (SELECT quantile_cont(v, 0.1) AS b1, quantile_cont(v, 0.2) AS b2, quantile_cont(v, 0.3) AS b3,
        |             quantile_cont(v, 0.4) AS b4, quantile_cont(v, 0.5) AS b5, quantile_cont(v, 0.6) AS b6,
        |             quantile_cont(v, 0.7) AS b7, quantile_cont(v, 0.8) AS b8, quantile_cont(v, 0.9) AS b9 FROM a),
        |ab AS (SELECT v, 1 AS ia FROM a UNION ALL SELECT v, 0 AS ia FROM b),
        |bk AS (SELECT CAST(1 + (CASE WHEN v > q.b1 THEN 1 ELSE 0 END) + (CASE WHEN v > q.b2 THEN 1 ELSE 0 END)
        | + (CASE WHEN v > q.b3 THEN 1 ELSE 0 END) + (CASE WHEN v > q.b4 THEN 1 ELSE 0 END)
        | + (CASE WHEN v > q.b5 THEN 1 ELSE 0 END) + (CASE WHEN v > q.b6 THEN 1 ELSE 0 END)
        | + (CASE WHEN v > q.b7 THEN 1 ELSE 0 END) + (CASE WHEN v > q.b8 THEN 1 ELSE 0 END)
        | + (CASE WHEN v > q.b9 THEN 1 ELSE 0 END) AS BIGINT) AS bucket, ia FROM ab, q),
        |g AS (SELECT bucket, CAST(sum(ia) AS BIGINT) AS n_a, CAST(count(*) - sum(ia) AS BIGINT) AS n_b FROM bk GROUP BY bucket),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM g)
        |SELECT bucket, n_a, n_b,
        | floor(((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)) - (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)))
        |   * ln((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)) / (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS psi_part
        |FROM g, t ORDER BY bucket""".stripMargin) { (s, d) =>
      // Population Stability Index — the industry-standard monitoring
      // metric for "has this score/feature distribution drifted" —
      // clicks as the reference sample. TV-distance twin: q_dq_7_drift.
      graft.api.Pipelines.psi(Tables(s, d, "events"), "value", "event_type", "click", "view")
        .orderBy("bucket")
    },

    Q("q_sim_15_cluster_purity",
      """WITH e AS (
        | SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS val
        | FROM embeddings WHERE vec_id < 200),
        |c0 AS (SELECT vec_id AS cid, pos, val AS c FROM e WHERE vec_id < 4),
        |d1 AS (SELECT e.vec_id, c.cid, sum((e.val - c.c) * (e.val - c.c)) AS d2
        |       FROM e JOIN c0 c ON e.pos = c.pos GROUP BY e.vec_id, c.cid),
        |a1 AS (SELECT vec_id, cid FROM (
        |       SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1)
        |       WHERE rn = 1),
        |c1 AS (SELECT a1.cid, e.pos, avg(e.val) AS c FROM e JOIN a1 ON e.vec_id = a1.vec_id GROUP BY a1.cid, e.pos),
        |d2t AS (SELECT e.vec_id, c.cid, sum((e.val - c.c) * (e.val - c.c)) AS d2
        |        FROM e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.cid),
        |a2 AS (SELECT vec_id, cid FROM (
        |       SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2t)
        |       WHERE rn = 1),
        |lab AS (SELECT a2.cid AS cluster, CAST(emb.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS nl
        |        FROM a2 JOIN embeddings emb ON a2.vec_id = emb.vec_id GROUP BY 1, 2),
        |tot AS (SELECT cluster, CAST(sum(nl) AS BIGINT) AS n FROM lab GROUP BY 1),
        |mj AS (SELECT cluster, label AS maj_label, nl AS maj_n FROM (
        |   SELECT cluster, label, nl, row_number() OVER (PARTITION BY cluster ORDER BY nl DESC, label) AS rn FROM lab) WHERE rn = 1)
        |SELECT t.cluster AS cluster, t.n AS n, m.maj_label AS maj_label, m.maj_n AS maj_n,
        |  floor(CAST(m.maj_n AS DOUBLE) / CAST(t.n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS purity
        |FROM tot t JOIN mj m ON t.cluster = m.cluster ORDER BY cluster""".stripMargin) { (s, d) =>
      // Cluster purity — the external-evaluation metric for a trained
      // clustering against ground-truth labels (per cluster: size,
      // majority label, majority share). Reuses q_sim_7's declarative
      // Lloyd pipeline for the assignments (same 1-iteration unroll,
      // same argmin tie→lowest cid), then one (cluster, label) count
      // aggregate + a k-row majority window. Label counts are BIGINT;
      // purity is one division per cluster row. Scale: the eval side is
      // k·|labels|-bounded — tiny next to the assignment pass it audits.
      val emb = Tables(s, d, "embeddings")
      val e = emb.filter(col("vec_id") < 200)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      val init = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      val assigned = KMeans.assign(e, KMeans.update(KMeans.assign(e, init)))
        .select(col("vec_id"), col("cid").as("cluster"))
      val lab = assigned
        .join(emb.select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
        .groupBy("cluster", "label").agg(count(lit(1)).as("nl"))
      val tot = lab.groupBy("cluster").agg(sum("nl").as("n"))
      val w = Window.partitionBy("cluster").orderBy(col("nl").desc, col("label"))
      val mj = lab.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cluster"), col("label").as("maj_label"), col("nl").as("maj_n"))
      tot.join(mj, "cluster")
        .select(col("cluster"), col("n"), col("maj_label"), col("maj_n"),
          round(col("maj_n").cast("double") / col("n").cast("double"), 6).as("purity"))
        .orderBy("cluster")
    },

    Q("q_text_24_pmi",
      """WITH b AS (SELECT struct_extract(p, 1) AS w1, struct_extract(p, 2) AS w2 FROM (
        |  SELECT unnest(list_zip(
        |    list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1),
        |    list_slice(string_split(text, ' '), 2, len(string_split(text, ' '))))) AS p
        |  FROM documents)),
        |lm AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b GROUP BY 1, 2),
        |r1 AS (SELECT w1 AS u1, CAST(sum(c12) AS BIGINT) AS c1 FROM lm GROUP BY 1),
        |r2 AS (SELECT w2 AS u2, CAST(sum(c12) AS BIGINT) AS c2 FROM lm GROUP BY 1),
        |n AS (SELECT CAST(sum(c2) AS BIGINT) AS nn FROM r2),
        |sc AS (SELECT w1, w2, c12,
        |  CAST(floor(ln(CAST(c12 AS DOUBLE) * CAST(nn AS DOUBLE) / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS pmi6
        | FROM lm JOIN r1 ON lm.w1 = r1.u1 JOIN r2 ON lm.w2 = r2.u2, n WHERE c12 >= 20)
        |SELECT w1, w2, c12, CAST(pmi6 AS DOUBLE) / 1000000 AS pmi, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT *, row_number() OVER (ORDER BY pmi6 DESC, w1, w2) AS rn FROM sc)
        |WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, d) =>
      // PMI collocation mining: top-20 bigrams by pointwise mutual
      // information ln(p12/(p1·p2)) with a min-count support threshold
      // (the classic collocation/phrase-detection primitive; the
      // association cousin of q_text_16's fluency score). ONE corpus
      // scan+explode pass: marginals r1/r2 and the total all roll up
      // from the vocab²-bounded LM table (the q_text_23 lesson); the
      // ln argument multiplies as DOUBLE (c12·N overflows BIGINT near
      // 1e18 at corpus scale); ordering is by the 1e-6-quantized
      // integer, w1, w2 — total and engine-stable. Margin joins are
      // vocab-bounded broadcasts.
      val toks = tokens(col("text"))
      val big = Tables(s, d, "documents")
        .select(explode(arrays_zip(
          slice(toks, lit(1), size(toks) - 1).as("w1"),
          slice(toks, lit(2), size(toks) - 1).as("w2"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val lm = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      // marginals as w1-/w2-PARTITIONED windows (hash exchanges, fully
      // distributed) + the total as a broadcast 1-row aggregate of the
      // same lm plan. The global-total WINDOW the previous form used
      // forced the whole bigram table into ONE partition, and the w1/w2
      // marginal windows then rode that same single partition
      // (SinglePartition satisfies any clustering requirement) — a
      // vocab²-sized one-task funnel. Two uses of the lm plan is the
      // shape AQE stage reuse dedups (measured r9: pairwise diamonds
      // reuse the shared exchange; 3+-way mixed-key diamonds do NOT),
      // so the corpus scan+explode still runs once.
      val sc = lm
        .withColumn("c1", sum("c12").over(Window.partitionBy("w1")))
        .withColumn("c2", sum("c12").over(Window.partitionBy("w2")))
        .crossJoin(broadcast(lm.agg(sum("c12").as("nn"))))
        .filter(col("c12") >= 20)
        .select(col("w1"), col("w2"), col("c12"),
          floor(log(col("c12").cast("double") * col("nn").cast("double")
            / (col("c1").cast("double") * col("c2").cast("double"))) * 1000000 + 0.5)
            .cast("long").as("pmi6"))
      // TakeOrdered top-20 over the bigram-vocab score table, then the
      // rank window over just 20 rows
      val w = Window.orderBy(col("pmi6").desc, col("w1"), col("w2"))
      sc.orderBy(col("pmi6").desc, col("w1"), col("w2")).limit(20)
        .withColumn("rn", row_number().over(w))
        .select(col("w1"), col("w2"), col("c12"),
          (col("pmi6").cast("double") / 1000000).as("pmi"), col("rn").cast("long").as("rn"))
        .orderBy("rn")
    },
  )
}
