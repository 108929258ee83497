package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-11 continuation (SURVEY §2.11cc): training-data-pipeline
  * readouts that stay key-bucketed at any corpus scale — a staged
  * dedup cascade whose every stage is a keyed groupBy (no pair join
  * anywhere), the type-token-ratio length curve (the lexical-diversity
  * vs document-length confound q_text_35's global Heaps fit averages
  * away), and the per-dimension embedding variance spectrum (the
  * dead/dominant-dimension collapse detector q_sim_19's per-ROW
  * participation ratio cannot see).
  *
  * Determinism discipline (§2.12): token counts, quantized values and
  * survivor ids are exact integers; ratios quantize 1e-6 at emission;
  * every query ends in a total ORDER BY.
  */
object Round11bOps {

  val all: Seq[Q] = Seq(

    // Staged dedup cascade: exact → normalized-token-set → MinHash-16
    // signature equality, each stage deduping the PREVIOUS stage's
    // survivors by min doc_id — the funnel that says how much each
    // successively looser key buys (the q_pipe_11 ledger shape, but
    // for the dedup stages themselves). Every stage is a keyed
    // groupBy + semi-join: NOTHING here is pair-shaped, so the whole
    // cascade is linear at 100 TB by construction (signature EQUALITY
    // is the degenerate all-rows band of q_dedup_3's LSH; the banded
    // near-dup join stays the production screen for dist < identical).
    Q("q_pipe_14_dedup_cascade",
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |  md5(lower(trim(text))) AS k1,
         |  md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS k2,
         |  md5(array_to_string(list_transform(${TextOps.duckMinhashSig}, x -> CAST(x AS VARCHAR)), '-')) AS k3
         | FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS td, CAST(sum(toks) AS BIGINT) AS tt FROM t),
         |s1 AS (SELECT * FROM t WHERE doc_id IN (SELECT min(doc_id) FROM t GROUP BY k1)),
         |s2 AS (SELECT * FROM s1 WHERE doc_id IN (SELECT min(doc_id) FROM s1 GROUP BY k2)),
         |s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT min(doc_id) FROM s2 GROUP BY k3)),
         |f AS (
         | SELECT 'a_exact' AS stage, CAST(count(*) AS BIGINT) AS n_docs_kept,
         |   CAST(sum(toks) AS BIGINT) AS n_tokens_kept FROM s1
         | UNION ALL
         | SELECT 'b_tokenset', CAST(count(*) AS BIGINT), CAST(sum(toks) AS BIGINT) FROM s2
         | UNION ALL
         | SELECT 'c_minhash', CAST(count(*) AS BIGINT), CAST(sum(toks) AS BIGINT) FROM s3)
         |SELECT stage, tot.td AS n_docs_in, n_docs_kept, n_tokens_kept,
         | floor((1 - CAST(n_tokens_kept AS DOUBLE) / tot.tt) * 1000000 + 0.5) / 1000000 AS token_removed_share
         |FROM f, tot ORDER BY stage""".stripMargin) { (s, d) =>
      // Per-stage keep set = groupBy(key).min(doc_id) + left_semi —
      // one key shuffle per stage over a monotonically SHRINKING
      // survivor table. Signature/keys are per-row projections
      // (md5 / sort / minhash — codegen'd, no UDF).
      import graft.functions.TextFunctions.minhashSignature
      val t = Tables(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        md5(lower(trim(col("text")))).as("k1"),
        md5(array_join(array_sort(array_distinct(
          split(lower(trim(col("text"))), " "))), " ")).as("k2"),
        md5(concat_ws("-",
          transform(minhashSignature(col("text"), 16), _.cast("string")))).as("k3"))
      def keepMin(df: DataFrame, k: String): DataFrame =
        df.join(df.groupBy(col(k)).agg(min("doc_id").as("doc_id")),
          Seq(k, "doc_id"), "left_semi")
      val s1 = keepMin(t, "k1").localCheckpoint()
      val s2 = keepMin(s1, "k2").localCheckpoint()
      val s3 = keepMin(s2, "k3")
      val tot = t.agg(count(lit(1)).as("td"), sum("toks").as("tt"))
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs_kept"), sum("toks").as("n_tokens_kept"))
          .select(lit(name).as("stage"), col("n_docs_kept"), col("n_tokens_kept"))
      stage("a_exact", s1).union(stage("b_tokenset", s2)).union(stage("c_minhash", s3))
        .crossJoin(broadcast(tot))
        .select(col("stage"), col("td").as("n_docs_in"),
          col("n_docs_kept"), col("n_tokens_kept"),
          Num.round(lit(1) - col("n_tokens_kept").cast("double") / col("tt"), 6)
            .as("token_removed_share"))
        .orderBy("stage")
    },

    // Type-token-ratio length curve: micro-averaged TTR per document-
    // length decile — the length-normalization table for lexical
    // diversity (raw TTR falls with length by construction; comparing
    // sources without conditioning on length is the classic confound;
    // q_text_35 fits the global Heaps law, this shows the decile-wise
    // readout a curation rule actually thresholds on).
    Q("q_text_59_ttr_curve",
      """WITH s AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS typs
        | FROM documents),
        |b AS (SELECT toks, typs,
        |  CAST(ntile(10) OVER (ORDER BY toks, doc_id) AS BIGINT) AS decile FROM s)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS n_tokens,
        | CAST(sum(typs) AS BIGINT) AS n_types,
        | floor(CAST(sum(typs) AS DOUBLE) / sum(toks) * 1000000 + 0.5) / 1000000 AS ttr
        |FROM b GROUP BY 1 ORDER BY decile""".stripMargin) { (s, d) =>
      // Deciles over the (toks, doc_id) total order via the
      // range-partitioned exactGlobalRank + ntileOfRank (builtin-
      // ntile-identical — the q_ret_6 machinery), never a one-task
      // window; per-decile sums are exact BIGINTs.
      val sdf = Tables(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("typs"))
      val (n, ranked) = graft.api.Pipelines
        .exactGlobalRank(sdf, Seq(col("toks"), col("doc_id")), "__rk")
      ranked.select(col("toks"), col("typs"),
          graft.api.Pipelines.ntileOfRank(col("__rk"), lit(n), 10).as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
          sum("typs").as("n_types"))
        .select(col("decile"), col("n_docs"), col("n_tokens"), col("n_types"),
          Num.round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"))
        .orderBy("decile")
    },

    // Per-dimension embedding variance spectrum: variance and share of
    // total variance for each of the 64 dimensions — the dead-dimension
    // / dominant-dimension collapse detector (a dimension carrying 0%
    // of the variance is wasted index width; one carrying 40% makes
    // every cosine a one-feature comparison). Complements q_sim_19:
    // the participation ratio is per ROW (is this vector spread out?),
    // this is per COLUMN (is this dimension alive across the corpus?).
    Q("q_sim_45_dim_spectrum",
      """WITH x AS (SELECT j.j AS dim,
        |  CAST(floor(embedding[j.j + 1] * 10000 + 0.5) AS BIGINT) AS vq
        | FROM embeddings, (SELECT unnest(range(0, 64)) AS j) j
        | WHERE j.j < len(embedding)),
        |g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vq) AS BIGINT) AS s, CAST(sum(vq * vq) AS BIGINT) AS sq FROM x GROUP BY 1),
        |v AS (SELECT dim, n,
        |  CAST(floor(CAST(CAST(n AS HUGEINT) * sq - CAST(s AS HUGEINT) * s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n) / 100000000 * 1000000 + 0.5) AS BIGINT) AS var6 FROM g),
        |tot AS (SELECT CAST(sum(var6) AS BIGINT) AS tv FROM v)
        |SELECT CAST(dim AS BIGINT) AS dim, n AS n_vectors,
        | CAST(var6 AS DOUBLE) / 1000000 AS variance,
        | floor(CAST(var6 AS DOUBLE) / tot.tv * 1000000 + 0.5) / 1000000 AS variance_share
        |FROM v, tot ORDER BY dim""".stripMargin) { (s, d) =>
      // Values quantize to a 1e-4 integer grid per element; the
      // variance numerator n·Σvq² − (Σvq)² is computed EXACTLY in
      // 128-bit integers (decimal(38,0) here, HUGEINT in the oracle —
      // r11 ADVICE: in doubles it loses exactness past n·Σvq² ≈ 9e15,
      // plausible at large corpora, leaving cross-engine agreement to
      // IEEE op ordering). The single exact-int→double cast is
      // correctly rounded on both engines, and the subsequent /n²
      // and 1e-6 quantize are the same IEEE sequence both sides.
      // posexplode is a per-row flatMap (64 rows per vector,
      // map-side); one dim-keyed agg — 64 groups at any corpus size.
      val x = Tables(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"),
          floor(col("v").cast("double") * 10000 + 0.5).cast("long").as("vq"))
      val g = x.groupBy("dim").agg(count(lit(1)).as("n"),
        sum("vq").as("s"), sum(col("vq") * col("vq")).as("sq"))
      val v = g.select(col("dim"), col("n"),
        floor((col("n").cast("decimal(38,0)") * col("sq")
          - col("s").cast("decimal(38,0)") * col("s")).cast("double")
          / (col("n").cast("double") * col("n")) / 100000000L * 1000000L + 0.5)
          .cast("long").as("var6"))
      val tot = v.agg(sum("var6").as("tv"))
      v.crossJoin(broadcast(tot))
        .select(col("dim"), col("n").as("n_vectors"),
          (col("var6").cast("double") / 1000000L).as("variance"),
          (floor(col("var6").cast("double") / col("tv") * 1000000L + 0.5) / 1000000L)
            .as("variance_share"))
        .orderBy("dim")
    }
  )
}
