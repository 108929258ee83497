package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 continuation (SURVEY §2.11ay): curation-pipeline PLANNING
  * operators — the interaction audits run before freezing a training-
  * data recipe: does stage order change the corpus, does the train/test
  * split leak near-duplicates, and how much does concat-and-split
  * packing fragment documents at each context size.
  *
  * Determinism discipline (§2.12): splits/dedup keys are the repo's
  * multiplicative-hash and distinct-token-set conventions (q_text_13,
  * q_dedup_2); packing is exact integer arithmetic off one windowed
  * cumulative sum; shares quantize at emission.
  */
object Round6iOps {

  val all: Seq[Q] = Seq(

    // Stage-order interaction: quality-filter→dedup vs dedup→filter.
    // The two orders disagree exactly when a duplicate group's canonical
    // (min doc_id) fails the filter while another member passes: order A
    // re-canonicalizes among survivors, order B drops the whole group.
    // The 2×2 matrix of per-doc outcomes is the audit that says whether
    // the pipeline's stage order is load-bearing for THIS corpus.
    Q("q_pipe_6_stage_order",
      """WITH keyed AS (SELECT doc_id, n_chars,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS set_key
        | FROM documents),
        |a AS (SELECT min(doc_id) AS keep FROM keyed WHERE n_chars >= 200 GROUP BY set_key),
        |b AS (SELECT keep FROM (SELECT min(doc_id) AS keep, arg_min(n_chars, doc_id) AS keep_chars
        |                        FROM keyed GROUP BY set_key) WHERE keep_chars >= 200),
        |f AS (SELECT k.doc_id,
        |  CASE WHEN a.keep IS NOT NULL THEN 1 ELSE 0 END AS in_a,
        |  CASE WHEN b.keep IS NOT NULL THEN 1 ELSE 0 END AS in_b
        | FROM keyed k LEFT JOIN a ON k.doc_id = a.keep LEFT JOIN b ON k.doc_id = b.keep)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(in_a * in_b) AS BIGINT) AS kept_both,
        | CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS only_filter_first,
        | CAST(sum((1 - in_a) * in_b) AS BIGINT) AS only_dedup_first,
        | CAST(sum((1 - in_a) * (1 - in_b)) AS BIGINT) AS dropped_both
        |FROM f""".stripMargin) { (s, d) =>
      // One scan computes the set_key; both orderings are aggregates
      // over it (order A: min-id among filtered members; order B:
      // min-id overall, then that doc's own n_chars gates the group).
      // At 100 TB both survivor sets are group-sized — the outcome join
      // broadcasts; nothing quadratic anywhere.
      val keyed = Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
            .as("set_key")).localCheckpoint()
      val a = keyed.filter(col("n_chars") >= 200)
        .groupBy("set_key").agg(min("doc_id").as("keep")).select("keep")
      val b = keyed.groupBy("set_key")
        .agg(min("doc_id").as("keep"), min_by(col("n_chars"), col("doc_id")).as("keep_chars"))
        .filter(col("keep_chars") >= 200).select("keep")
      val f = keyed.select("doc_id")
        .join(broadcast(a), col("doc_id") === col("keep"), "left")
        .withColumn("in_a", when(col("keep").isNotNull, 1).otherwise(0)).drop("keep")
        .join(broadcast(b.withColumnRenamed("keep", "keep_b")),
          col("doc_id") === col("keep_b"), "left")
        .withColumn("in_b", when(col("keep_b").isNotNull, 1).otherwise(0)).drop("keep_b")
      f.agg(count(lit(1)).as("n_docs"),
        sum(col("in_a") * col("in_b")).cast("long").as("kept_both"),
        sum(col("in_a") * (lit(1) - col("in_b"))).cast("long").as("only_filter_first"),
        sum((lit(1) - col("in_a")) * col("in_b")).cast("long").as("only_dedup_first"),
        sum((lit(1) - col("in_a")) * (lit(1) - col("in_b"))).cast("long").as("dropped_both"))
    },

    // Train/test split leakage: deterministic 90/10 hash split
    // (q_text_13's bucket), then count test docs whose distinct-token
    // SET (q_dedup_2's near-dup key) also appears in train — the
    // contamination a random split silently ships when the corpus has
    // near-duplicates. Per-language, because leak rates track corpus
    // duplication structure, not volume.
    Q("q_pipe_7_split_leakage",
      """WITH keyed AS (SELECT doc_id, lang,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS set_key,
        |  CASE WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 100 < 90
        |       THEN 'train' ELSE 'test' END AS split
        | FROM documents),
        |tr AS (SELECT DISTINCT set_key FROM keyed WHERE split = 'train')
        |SELECT k.lang, CAST(count(*) AS BIGINT) AS n_test,
        | CAST(sum(CASE WHEN tr.set_key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
        | floor(CAST(sum(CASE WHEN tr.set_key IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS leak_share
        |FROM keyed k LEFT JOIN tr ON k.set_key = tr.set_key
        |WHERE k.split = 'test'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // The near-dup key is the distinct-token SET digest (q_dedup_2).
      graft.api.Pipelines.splitLeakage(Tables(s, d, "documents"), "doc_id",
          md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))), "lang")
        .orderBy("lang")
    },

    // Concat-and-split packing audit: concatenate the corpus in doc_id
    // order, cut every ctx tokens (the zero-padding GPT pretraining
    // layout), and count how many documents straddle a cut at each
    // context size — the attention-contamination / truncation tradeoff
    // that picks ctx. Small ctx wastes nothing but shreds documents;
    // the table shows the shred rate + the single tail pad.
    Q("q_pipe_8_ctx_boundary",
      """WITH toks AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |              FROM documents),
        |cum AS (SELECT doc_id, tok, CAST(sum(tok) OVER (ORDER BY doc_id) AS BIGINT) AS c
        |        FROM toks),
        |x AS (SELECT ctx, tok, c,
        |        CASE WHEN (c - 1) // ctx > (c - tok) // ctx THEN 1 ELSE 0 END AS crossed
        |      FROM cum, (VALUES (CAST(128 AS BIGINT)), (CAST(256 AS BIGINT)), (CAST(512 AS BIGINT))) v(ctx))
        |SELECT ctx, CAST((max(c) + ctx - 1) // ctx AS BIGINT) AS n_seqs,
        | CAST(sum(crossed) AS BIGINT) AS n_docs_split,
        | floor(CAST(sum(crossed) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS split_share,
        | CAST(((max(c) + ctx - 1) // ctx) * ctx - max(c) AS BIGINT) AS tail_pad
        |FROM x GROUP BY ctx ORDER BY ctx""".stripMargin) { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
      graft.api.Pipelines.ctxBoundarySweep(toks, "doc_id", "tok", Seq(128L, 256L, 512L))
        .orderBy("ctx")
    }
  )
}
