package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bb): text-corpus depth — sentence
  * length profiles, intra-document duplicate n-gram share, Zipf-rank
  * lexical sophistication, the Gopher-style rule-bundle screen, and
  * character-bigram entropy.
  *
  * Determinism discipline (§2.12): every quality rule evaluates as an
  * EXACT integer predicate (cross-multiplied rationals — e.g.
  * mean-word-length < 3 is tested as sum_len < 3·n_tokens), so rule
  * flags can never drift between engines; entropies use the shared
  * ln-based form both engines evaluate identically (q_agg_28
  * precedent); every emitted ratio quantizes 1e-6.
  */
object Round7bOps {

  val all: Seq[Q] = Seq(

    // Sentence-length profile per language: how long sentences run (in
    // tokens) — the context-window planning input that doc-level token
    // counts (q_text_6) can't give: packing/truncation happens at
    // sentence boundaries (q_pipe_8), so the SENTENCE length
    // distribution is the one that matters.
    Q("q_text_54_sentence_len",
      """WITH sen AS (SELECT lang, trim(s) AS s
        |  FROM documents, unnest(string_split(text, '. ')) AS t(s)
        |  WHERE length(trim(s)) > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sentences,
        | CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_tokens,
        | floor(CAST(sum(len(string_split(s, ' '))) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS mean_sent_tokens,
        | CAST(max(len(string_split(s, ' '))) AS BIGINT) AS max_sent_tokens
        |FROM sen GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      // One explode pass; token counts are array sizes (no second
      // explode), aggregated map-side to |langs| rows.
      Tables(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), "\\. ")).as("s0"))
        .select(col("lang"), trim(col("s0")).as("s"))
        .filter(length(col("s")) > 0)
        .select(col("lang"), size(split(col("s"), " ")).cast("long").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sentences"), sum("nt").as("n_tokens"),
          Num.round(sum("nt").cast("double") / count(lit(1)), 6).as("mean_sent_tokens"),
          max("nt").as("max_sent_tokens"))
        .orderBy("lang")
    },

    // Intra-document duplicate 5-gram share per source: total 5-gram
    // positions minus distinct 5-grams, summed — the Rae/Gopher
    // "duplicate n-gram fraction" repetition screen. Computed WITHOUT
    // exploding occurrences: per doc it's two array sizes off one
    // split (positions = n_tokens-4, distinct = |shingle set|).
    Q("q_text_55_dup_ngram_share",
      """WITH p AS (SELECT source,
        |  CAST(greatest(len(string_split(text, ' ')) - 4, 0) AS BIGINT) AS n5,
        |  CAST(len(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 4, 0)),
        |    i -> array_to_string(string_split(text, ' ')[i + 1:i + 5], ' ')))) AS BIGINT) AS nd
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n5) AS BIGINT) AS n_5grams,
        | CAST(sum(n5 - nd) AS BIGINT) AS n_dup_5grams,
        | floor(CAST(sum(n5 - nd) AS DOUBLE)
        |   / greatest(sum(n5), 1) * 1000000 + 0.5) / 1000000 AS dup_share
        |FROM p GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      graft.api.Pipelines.dupNgramShare(Tables(s, d, "documents"), "source", "text", 5)
        .orderBy("source")
    },

    // Zipf-rank lexical sophistication: the occurrence-weighted mean
    // corpus-frequency RANK of each source's tokens. A source living on
    // rank-1..5 words is formulaic; one drawing deep vocabulary ranks
    // high — the readout q_text_45's stopword share approximates with
    // a fixed list, done against the corpus's own frequency table.
    Q("q_text_56_lexical_rank",
      """WITH tf AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1),
        |r AS (SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk FROM tf),
        |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents) GROUP BY 1, 2)
        |SELECT st.source, CAST(sum(st.cnt) AS BIGINT) AS n_tokens,
        | floor(CAST(sum(st.cnt * r.rnk) AS DOUBLE)
        |   / sum(st.cnt) * 1000000 + 0.5) / 1000000 AS mean_rank,
        | CAST(max(r.rnk) AS BIGINT) AS deepest_rank
        |FROM st JOIN r ON st.token = r.token
        |GROUP BY st.source ORDER BY st.source""".stripMargin) { (s, d) =>
      // (source, token) counts shrink the join's left side to
      // vocab x sources; the rank table is vocab-bounded and the join
      // is token-keyed (broadcastable — the vocabulary, not the
      // corpus, sizes it). Rank sum stays in exact BIGINTs.
      val toks = Tables(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
      val tf = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      // full Zipf rank of the vocabulary via exactGlobalRankBy (range-
      // partitioned on (cnt DESC, token)) — the vocab grows with the
      // corpus, so no one-task rank window
      val rnk = graft.api.Pipelines
        .exactGlobalRankBy(tf, Seq(col("cnt").desc, col("token")), "rnk")
        .select(col("token"), col("rnk"))
      val st = toks.groupBy("source", "token").agg(count(lit(1)).as("cnt"))
      st.join(broadcast(rnk), "token")
        .groupBy("source")
        .agg(sum("cnt").as("n_tokens"),
          Num.round(sum(col("cnt") * col("rnk")).cast("double")
            / sum("cnt"), 6).as("mean_rank"),
          max("rnk").as("deepest_rank"))
        .orderBy("source")
    },

    // Gopher-style rule-bundle screen: four quality rules evaluated as
    // EXACT integer predicates in one scan — too short (<15 tokens),
    // word-length shape off ([3,10] mean band), digit-heavy (>20%),
    // repetitive (type-token ratio <0.4) — with per-rule prevalence
    // and the multi-fail count per source. q_pipe_2's funnel applies
    // stages in sequence; this is the per-rule incidence MATRIX that
    // says which rule does the work.
    Q("q_text_57_gopher_rules",
      """WITH m AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nu,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS dg
        | FROM documents),
        |f AS (SELECT source,
        |  CASE WHEN nt < 15 THEN 1 ELSE 0 END AS r_short,
        |  CASE WHEN nc - nt + 1 < 3 * nt OR nc - nt + 1 > 10 * nt THEN 1 ELSE 0 END AS r_wordlen,
        |  CASE WHEN 5 * dg > nc THEN 1 ELSE 0 END AS r_digit,
        |  CASE WHEN 5 * nu < 2 * nt THEN 1 ELSE 0 END AS r_repeat
        | FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(r_short) AS BIGINT) AS n_short,
        | CAST(sum(r_wordlen) AS BIGINT) AS n_wordlen,
        | CAST(sum(r_digit) AS BIGINT) AS n_digit,
        | CAST(sum(r_repeat) AS BIGINT) AS n_repeat,
        | CAST(sum(CASE WHEN r_short + r_wordlen + r_digit + r_repeat >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_fail,
        | floor(CAST(sum(CASE WHEN r_short + r_wordlen + r_digit + r_repeat = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS clean_share
        |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      graft.api.Pipelines.qualityRuleMatrix(Tables(s, d, "documents"), "source", "text")
        .orderBy("source")
    },

    // Character-bigram entropy per language: H = log2(n) − Σc·log2(c)/n
    // over the char-bigram distribution — the script-level signal that
    // separates natural prose from serial dumps and base64 blobs, one
    // level below q_text_4's token-level language ID.
    Q("q_text_58_char_bigram_entropy",
      """WITH b AS (SELECT lang, substring(text, CAST(i AS INT), 2) AS bg
        |  FROM documents, unnest(range(1, length(text))) AS t(i)),
        |c AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS DOUBLE) AS slc
        | FROM c GROUP BY 1)
        |SELECT lang, n AS n_bigrams, n_distinct,
        | floor((ln(CAST(n AS DOUBLE)) - slc / n) / ln(2.0) * 1000000 + 0.5) / 1000000 AS entropy_bits
        |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      // One positional explode (chars-1 rows per doc), then the
      // |langs| x |bigram-alphabet|-bounded count table; the entropy
      // folds exact counts through the shared ln form. At 100 TB the
      // bigram alphabet is ≤64k — the count table never grows.
      // Guarded sequence: Spark's sequence(1, 0) runs DESCENDING, so
      // 1-char docs must yield an empty position list explicitly.
      val pos = when(length(col("text")) > 1,
        sequence(lit(1), length(col("text")) - 1))
        .otherwise(array().cast("array<int>"))
      Tables(s, d, "documents")
        .select(col("lang"), col("text"), explode(pos).as("i"))
        .select(col("lang"), expr("substring(text, i, 2)").as("bg"))
        .groupBy("lang", "bg").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("slc"))
        .select(col("lang"), col("n").as("n_bigrams"), col("n_distinct"),
          Num.round((log(col("n").cast("double")) - col("slc") / col("n"))
            / log(lit(2.0)), 6).as("entropy_bits"))
        .orderBy("lang")
    }
  )
}
