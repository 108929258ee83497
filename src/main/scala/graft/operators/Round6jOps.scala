package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 continuation (SURVEY §2.11az): corpus-sizing economics —
  * what truncation at each max-length costs in tokens, and what each
  * additional source contributes in novel texts (the data-acquisition
  * ordering curve).
  *
  * Determinism discipline (§2.12): token counts are exact whitespace
  * splits; everything is integer arithmetic with shares quantized at
  * emission; source ordering is by numeric suffix, not string sort.
  */
object Round6jOps {

  val all: Seq[Q] = Seq(

    // Truncation loss: if every document is cut at max_len tokens
    // (the no-packing alternative to q_pipe_8's concat-and-split),
    // how many tokens vanish and how many docs are touched, per cap.
    // The complement of the packing audit: packing shreds documents,
    // truncation discards tails — this table prices the second option.
    Q("q_text_52_truncation",
      """WITH toks AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
        |x AS (SELECT cap, tok,
        |        CASE WHEN tok > cap THEN tok - cap ELSE 0 END AS lost
        |      FROM toks, (VALUES (CAST(16 AS BIGINT)), (CAST(32 AS BIGINT)), (CAST(64 AS BIGINT))) v(cap))
        |SELECT cap, CAST(sum(tok) AS BIGINT) AS total_tokens,
        | CAST(sum(lost) AS BIGINT) AS tokens_lost,
        | CAST(sum(CASE WHEN tok > cap THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
        | floor(CAST(sum(lost) AS DOUBLE) / sum(tok) * 1000000 + 0.5) / 1000000 AS loss_share
        |FROM x GROUP BY cap ORDER BY cap""".stripMargin) { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("tok"))
      graft.api.Pipelines.truncationLoss(toks, "tok", Seq(16L, 32L, 64L))
        .orderBy("cap")
    },

    // Data-acquisition ordering curve: add sources in src0, src1, …
    // order and count the NOVEL distinct texts each contributes (texts
    // whose earliest source, in that order, is this one) plus the
    // cumulative corpus size. The marginal-value table behind "which
    // feed do we license next" — a flat tail says later sources are
    // already covered by earlier ones.
    Q("q_text_53_acquisition_curve",
      """WITH ord AS (SELECT doc_id, text, CAST(substr(source, 4) AS BIGINT) AS src_ord FROM documents),
        |firsts AS (SELECT text, min(src_ord) AS first_ord FROM ord GROUP BY 1),
        |novel AS (SELECT first_ord AS src_ord, CAST(count(*) AS BIGINT) AS n_novel
        |          FROM firsts GROUP BY 1),
        |base AS (SELECT DISTINCT src_ord FROM ord)
        |SELECT b.src_ord, COALESCE(n.n_novel, CAST(0 AS BIGINT)) AS n_novel,
        | CAST(sum(COALESCE(n.n_novel, CAST(0 AS BIGINT))) OVER (ORDER BY b.src_ord) AS BIGINT) AS cum_distinct
        |FROM base b LEFT JOIN novel n ON b.src_ord = n.src_ord
        |ORDER BY b.src_ord""".stripMargin) { (s, d) =>
      // The curve is a min-aggregate per distinct text (novelty =
      // earliest source wins) plus a source-count-sized running sum —
      // the text shuffle carries digests at 100 TB (xxhash64 the text
      // for the min-by key), and the window runs over |sources| rows.
      val ord = Tables(s, d, "documents")
        .select(col("text"), substring(col("source"), 4, 10).cast("long").as("src_ord"))
      val novel = ord.groupBy("text").agg(min("src_ord").as("first_ord"))
        .groupBy(col("first_ord").as("src_ord")).agg(count(lit(1)).as("n_novel"))
      val base = ord.select("src_ord").distinct()
      val w = Window.orderBy("src_ord").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.join(novel.withColumnRenamed("src_ord", "ns"), col("src_ord") === col("ns"), "left")
        .select(col("src_ord"), coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("cum_distinct", sum("n_novel").over(w))
        .orderBy("src_ord")
    }
  )
}
