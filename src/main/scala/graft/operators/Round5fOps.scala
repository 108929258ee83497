package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.TextFunctions.tokenSet
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11o): cross-language duplicate
  * auditing, embedding-centroid drift, DAU/WAU engagement, last-digit
  * uniformity, prospective power analysis, token position bias, and
  * maximum drawdown.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-row/per-dim quantization BEFORE cross-row sums; products that can
  * outgrow int64 ride DECIMAL(38,0)/HUGEINT; one fixed-shape IEEE
  * expression per emitted float, mirrored verbatim in DuckDB; total
  * ORDER BY everywhere multi-row.
  */
object Round5fOps {

  val all: Seq[Q] = Seq(

    Q("q_dedup_13_cross_lang",
      """WITH h AS (SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS nk, lang, doc_id FROM documents),
        |g AS (SELECT nk, CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs FROM h GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_distinct_keys,
        | CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
        | CAST(sum(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_lang_keys,
        | CAST(sum(CASE WHEN n_langs > 1 THEN n_docs ELSE 0 END) AS BIGINT) AS n_docs_in_cross,
        | floor(CAST(sum(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS cross_lang_share
        |FROM g""".stripMargin) { (s, d) =>
      // Cross-language duplicate audit: near-duplicate keys (the
      // order-insensitive token-set digest, q_dedup_2's key) that occur
      // under MORE THAN ONE language tag — the "same content, different
      // lang label" failure that poisons per-language mixture weights
      // and language-ID training sets, and that per-language dedup runs
      // (which partition BY lang first) structurally cannot see. All
      // counts are exact integers over the digest-keyed group table;
      // the share is one closed-form division. Scale: one corpus scan
      // to 16-byte digests, one digest-keyed agg (never the text), a
      // 4-number reduction after.
      val h = Tables(s, d, "documents").select(
        md5(concat_ws(" ", sort_array(tokenSet(col("text"))))).as("nk"),
        col("lang"), col("doc_id"))
      val g = h.groupBy("nk").agg(count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"))
      g.agg(count(lit(1)).as("n_distinct_keys"),
        sum(when(col("n_docs") > 1, 1).otherwise(0)).cast("long").as("n_dup_keys"),
        sum(when(col("n_langs") > 1, 1).otherwise(0)).cast("long").as("n_cross_lang_keys"),
        sum(when(col("n_langs") > 1, col("n_docs")).otherwise(0)).cast("long").as("n_docs_in_cross"),
        round(sum(when(col("n_langs") > 1, 1).otherwise(0)).cast("double")
          / count(lit(1)), 6).as("cross_lang_share"))
    },

    Q("q_sim_20_centroid_shift",
      """WITH h AS (SELECT vec_id, label, embedding,
        |  (vec_id % 1000000007) * 2654435761 % 1000000007 % 2 AS half FROM embeddings),
        |x AS (SELECT label, half, g AS dim,
        |  CAST(floor(CAST(embedding[g + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        | FROM h, unnest(generate_series(0, len(embedding) - 1)) AS t(g)),
        |c AS (SELECT label, dim,
        |  CAST(sum(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT) AS sa,
        |  CAST(sum(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT) AS sb
        | FROM x GROUP BY 1, 2),
        |n AS (SELECT label,
        |  CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        | FROM h GROUP BY 1),
        |d AS (SELECT label, sum(CAST(sa AS HUGEINT) * sb) AS dot,
        |  sum(CAST(sa AS HUGEINT) * sa) AS qa, sum(CAST(sb AS HUGEINT) * sb) AS qb
        | FROM c GROUP BY 1)
        |SELECT CAST(d.label AS BIGINT) AS label, n.na AS n_a, n.nb AS n_b,
        | floor(CAST(dot AS DOUBLE) / (sqrt(CAST(qa AS DOUBLE)) * sqrt(CAST(qb AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS centroid_cosine
        |FROM d JOIN n ON d.label = n.label ORDER BY label""".stripMargin) { (s, d) =>
      // Embedding-centroid drift monitor per label (near 0 on this
      // random fixture: the label's centroid is noise).
      graft.api.Pipelines.centroidShift(Tables(s, d, "embeddings"), "vec_id", "embedding", "label")
        .orderBy("label")
    },

    Q("q_stream_20_dau_wau",
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |contrib AS (SELECT DISTINCT user_id, day + g AS wday FROM ud, unnest(generate_series(0, 6)) AS t(g)),
        |wau AS (SELECT wday AS day, CAST(count(*) AS BIGINT) AS wau FROM contrib GROUP BY 1),
        |b AS (SELECT CAST(min(day) AS BIGINT) AS d0 FROM ud)
        |SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wau.wau,
        | floor(CAST(dau.dau AS DOUBLE) / wau.wau * 1000000 + 0.5) / 1000000 AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day, b
        |WHERE dau.day >= b.d0 + 6 ORDER BY day""".stripMargin) { (s, d) =>
      // DAU / WAU / stickiness: daily active users, trailing-7-day
      // active users, and their ratio (the DAU/WAU engagement metric).
      graft.api.Pipelines.dauWau(Tables(s, d, "events"), "user_id", "ts")
        .orderBy("day")
    },

    Q("q_dq_23_last_digit",
      """WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) % 10 AS digit FROM events),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS tot FROM g)
        |SELECT digit, n,
        | floor(CAST(n AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS share,
        | floor((CAST(n AS DOUBLE) - CAST(tot AS DOUBLE) / 10) * (CAST(n AS DOUBLE) - CAST(tot AS DOUBLE) / 10) / (CAST(tot AS DOUBLE) / 10) * 1000000 + 0.5) / 1000000 AS chi2_term
        |FROM t ORDER BY digit""".stripMargin) { (s, d) =>
      // Last-digit uniformity audit of the value column (cents): digit
      // share + per-digit χ² term against the uniform expectation —
      // the fraud/rounding screen that complements q_dq_16's Benford
      // FIRST-digit law (genuine fine-grained amounts have uniform
      // last digits; rounded, fabricated, or re-priced data spikes 0/5).
      // Emitted per digit like q_stat_1 (each χ² term is one IEEE
      // expression over exact integers; the 10-term total is the
      // reader's order-free sum). Scale: map-side-combinable count to
      // 10 rows.
      val e = Tables(s, d, "events")
        .select((floor(col("value") * 100 + 0.5).cast("long") % 10).as("digit"))
      val g = e.groupBy("digit").agg(count(lit(1)).as("n"))
      val t = g.withColumn("tot", sum("n").over(Window.partitionBy()))
      val exp10 = col("tot").cast("double") / 10
      t.select(col("digit"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("share"),
          round((col("n").cast("double") - exp10) * (col("n").cast("double") - exp10) / exp10, 6)
            .as("chi2_term"))
        .orderBy("digit")
    },

    Q("q_stat_20_power",
      """WITH e AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x FROM events WHERE event_type IN ('purchase', 'click')),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss FROM e GROUP BY 1),
        |p AS (SELECT
        |  max(CASE WHEN event_type = 'purchase' THEN n END) AS n1, max(CASE WHEN event_type = 'purchase' THEN s END) AS s1, max(CASE WHEN event_type = 'purchase' THEN ss END) AS ss1,
        |  max(CASE WHEN event_type = 'click' THEN n END) AS n0, max(CASE WHEN event_type = 'click' THEN s END) AS s0, max(CASE WHEN event_type = 'click' THEN ss END) AS ss0
        | FROM g),
        |f AS (SELECT n1, n0,
        |  (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
        |   / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0)) / (n1 + n0 - 2)) AS dd
        | FROM p)
        |SELECT n1, n0,
        | floor(dd * 1000000 + 0.5) / 1000000 AS cohen_d,
        | CAST(ceil(2 * (1.959964 + 0.841621) * (1.959964 + 0.841621) / (dd * dd)) AS BIGINT) AS n_per_group_80,
        | CAST(ceil(2 * (1.959964 + 1.281552) * (1.959964 + 1.281552) / (dd * dd)) AS BIGINT) AS n_per_group_90
        |FROM f""".stripMargin) { (s, d) =>
      // Prospective power analysis from the observed effect: the
      // per-group sample size a two-sided α=0.05 two-sample test needs
      // to detect the purchase-vs-click effect at 80% / 90% power,
      // n = 2(z_{α/2}+z_β)²/d² — the "how long must the A/B run"
      // planning number built on q_stat_19's Cohen's d (z constants
      // 1.959964 / 0.841621 / 1.281552 are shared literals, same
      // convention as q_stat_16's Wilson z). Sufficient statistics are
      // the same exact one-scan BIGINTs; d and both ceilings are fixed
      // IEEE expressions (ceil is exact on both engines). Scale:
      // 2-group map-side agg, constant arithmetic after.
      val e = Tables(s, d, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("x"))
      val g = e.groupBy("event_type").agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"))
      val p = g.agg(
        max(when(col("event_type") === "purchase", col("n"))).as("n1"),
        max(when(col("event_type") === "purchase", col("s"))).as("s1"),
        max(when(col("event_type") === "purchase", col("ss"))).as("ss1"),
        max(when(col("event_type") === "click", col("n"))).as("n0"),
        max(when(col("event_type") === "click", col("s"))).as("s0"),
        max(when(col("event_type") === "click", col("ss"))).as("ss0"))
      val dd = (col("s1").cast("double") / col("n1") - col("s0").cast("double") / col("n0")) /
        sqrt(((col("ss1").cast("double") - col("s1").cast("double") * col("s1") / col("n1"))
          + (col("ss0").cast("double") - col("s0").cast("double") * col("s0") / col("n0")))
          / (col("n1") + col("n0") - 2))
      val z80 = lit(1.959964) + lit(0.841621)
      val z90 = lit(1.959964) + lit(1.281552)
      p.select(col("n1"), col("n0"),
        round(dd, 6).as("cohen_d"),
        ceil(lit(2) * z80 * z80 / (dd * dd)).cast("long").as("n_per_group_80"),
        ceil(lit(2) * z90 * z90 / (dd * dd)).cast("long").as("n_per_group_90"))
    },

    Q("q_text_38_position_bias",
      """WITH t AS (SELECT doc_id, g AS pos, string_split(text, ' ')[g + 1] AS tok, len(string_split(text, ' ')) AS n
        | FROM documents, unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS u(g)),
        |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1),
        |top AS (SELECT tok, tf, CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rnk FROM v),
        |p AS (SELECT t.tok, CAST(floor(CAST(t.pos AS DOUBLE) / (t.n - 1) * 1000000 + 0.5) AS BIGINT) AS rq
        | FROM t JOIN top ON t.tok = top.tok WHERE top.rnk <= 10 AND t.n > 1)
        |SELECT top.rnk, p.tok, CAST(count(*) AS BIGINT) AS occurrences,
        | floor(CAST(sum(p.rq) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mean_rel_pos
        |FROM p JOIN top ON p.tok = top.tok GROUP BY 1, 2 ORDER BY rnk""".stripMargin) { (s, d) =>
      // Token position bias: mean relative position (0 = doc start,
      // 1 = doc end) of each top-10 token's occurrences — the template
      // detector: boilerplate headers/footers/navigation tokens cluster
      // at the extremes while organic vocabulary sits near 0.5 (as this
      // fixture's does). Per-occurrence relative positions are
      // floor-quantized to 1e-6 integers BEFORE the sum, so the mean is
      // an exact-integer statistic; single-token docs (n=1) are
      // excluded (relative position undefined, stated). Scale: one
      // posexplode scan; the top-10 filter broadcasts onto the exploded
      // stream so only matching occurrences shuffle.
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      val v = t.groupBy("tok").agg(count(lit(1)).as("tf"))
      // TakeOrdered top-10 over the vocab, then the rank window over
      // just 10 rows
      val top = v.orderBy(col("tf").desc, col("tok")).limit(10)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("tf").desc, col("tok"))).cast("long"))
      val p = t.filter(col("n") > 1)
        .join(broadcast(top), "tok")
        .select(col("rnk"), col("tok"),
          floor(col("pos").cast("double") / (col("n") - 1) * 1000000L + 0.5).cast("long").as("rq"))
      p.groupBy("rnk", "tok").agg(count(lit(1)).as("occurrences"),
          (floor(sum("rq").cast("double") / count(lit(1)) + 0.5) / 1000000L).as("mean_rel_pos"))
        .orderBy("rnk")
    },

    Q("q_win_13_drawdown",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
        |  - CAST(sum(CASE WHEN event_type = 'error' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS net
        | FROM events GROUP BY 1),
        |c AS (SELECT day, net,
        |  CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM d),
        |r AS (SELECT day, net, cum,
        |  CAST(max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak FROM c),
        |x AS (SELECT day, cum, peak, peak - cum AS dd,
        |  CAST(row_number() OVER (ORDER BY peak - cum DESC, day) AS BIGINT) AS rn,
        |  CAST(count(*) OVER () AS BIGINT) AS nd FROM r)
        |SELECT CAST(day AS BIGINT) AS trough_day, nd AS n_days,
        | floor(CAST(cum AS DOUBLE) / 100 * 100 + 0.5) / 100 AS cum_at_trough,
        | floor(CAST(peak AS DOUBLE) / 100 * 100 + 0.5) / 100 AS peak_before,
        | floor(CAST(dd AS DOUBLE) / 100 * 100 + 0.5) / 100 AS max_drawdown,
        | floor(CAST(dd AS DOUBLE) / peak * 1000000 + 0.5) / 1000000 AS dd_frac
        |FROM x WHERE rn = 1""".stripMargin) { (s, d) =>
      // Maximum drawdown of the cumulative purchase-minus-error daily
      // net — the worst-case-decline readout (finance's risk stat; on
      // pipelines, the deepest sustained quality/volume slump).
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val day = Tables(s, d, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg((sum(when(col("event_type") === "purchase", cents).otherwise(0L))
          - sum(when(col("event_type") === "error", cents).otherwise(0L))).as("net"))
      graft.api.Pipelines.maxDrawdown(day, "day", "net")
    }
  )
}
