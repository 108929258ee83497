package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-6 continuation (SURVEY §2.11ar): LLM-pipeline additions —
  * character-class quality profiling, cross-document boilerplate
  * detection, prefix-fingerprint dedup, ridge-regression shrinkage,
  * token-budget water-filling, and retrieval exposure share.
  *
  * Determinism discipline (§2.12): character counts, token counts and
  * allocations are exact integers; every ratio quantizes 1e-6 at
  * emission; rankings order on exact integers (or raw cosines with id
  * tie-breaks, the q_sim_2 precedent).
  */
object Round6bOps {

  /** 1e6-quantized DCG discounts 1/log2(r+1), r = 1..10 (the q_ret_1
    * plan-time table — no runtime transcendental). */
  private val expoWSql = Round4Ops.ndcgW.mkString("[", ", ", "]")

  val all: Seq[Q] = Seq(

    // Character-class profile per source: upper/digit/whitespace
    // shares of the raw byte stream — the cheap formatting-quality
    // signal that catches shouting, serial-number dumps and
    // whitespace-padded docs before any tokenization (q_text_5 scores
    // at the token level; this is one regex pass below it).
    Q("q_text_49_char_classes",
      """WITH c AS (SELECT source,
        |  CAST(length(text) AS BIGINT) AS n,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS up,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS dg,
        |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS sp
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n) AS BIGINT) AS n_chars,
        | floor(CAST(sum(up) AS DOUBLE) / sum(n) * 1000000 + 0.5) / 1000000 AS upper_ratio,
        | floor(CAST(sum(dg) AS DOUBLE) / sum(n) * 1000000 + 0.5) / 1000000 AS digit_ratio,
        | floor(CAST(sum(sp) AS DOUBLE) / sum(n) * 1000000 + 0.5) / 1000000 AS space_ratio
        |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      graft.api.Pipelines.charClassProfile(Tables(s, d, "documents"), "source", "text")
        .orderBy("source")
    },

    // Cross-document boilerplate: sentences (>= 20 chars) that appear
    // verbatim in 2+ DISTINCT documents, and each source's share of
    // such occurrences — the C4-style template/footer screen.
    // q_text_17's repetition score is INTRA-document; this is the
    // corpus-level complement that catches shared headers a single-doc
    // screen can't see.
    Q("q_text_50_boilerplate",
      """WITH sen AS (SELECT doc_id, source, trim(s) AS s
        |  FROM documents, unnest(string_split(text, '. ')) AS t(s)
        |  WHERE length(trim(s)) >= 20),
        |freq AS (SELECT s, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        | FROM sen GROUP BY 1)
        |SELECT sen.source, CAST(count(*) AS BIGINT) AS n_sentences,
        | CAST(sum(CASE WHEN freq.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        | floor(CAST(sum(CASE WHEN freq.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*) * 1000000 + 0.5) / 1000000 AS boiler_ratio
        |FROM sen JOIN freq ON sen.s = freq.s
        |GROUP BY sen.source ORDER BY sen.source""".stripMargin) { (s, d) =>
      graft.api.Pipelines.boilerplateShare(Tables(s, d, "documents"), "doc_id", "source", "text")
        .orderBy("source")
    },

    // Prefix-fingerprint dedup: cluster by the first 40 characters —
    // the cheapest near-dup candidate generator there is (catches
    // re-posts with edited tails, truncation variants, and templated
    // intros that full-digest exact dedup of q_dedup_1 misses).
    Q("q_dedup_26_prefix_cluster",
      """WITH g AS (SELECT substring(text, 1, 40) AS pfx,
        |  CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_groups,
        | CAST(sum(CASE WHEN n >= 2 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        | floor(CAST(sum(CASE WHEN n >= 2 THEN n - 1 ELSE 0 END) AS DOUBLE)
        |   / sum(n) * 1000000 + 0.5) / 1000000 AS dup_ratio
        |FROM g""".stripMargin) { (s, d) =>
      graft.api.Pipelines.prefixClusters(Tables(s, d, "documents"), "text")
    },

    // Ridge shrinkage path: the q_ml_8 two-regressor OLS re-solved
    // with an L2 penalty at four λ values on the CENTERED normal
    // equations — how fast each coefficient shrinks toward zero is the
    // collinearity readout (a coefficient that collapses early was
    // riding on a correlated partner, not on signal).
    Q("q_ml_10_ridge",
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sz,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxz,
        |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS szz,
        |  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxy,
        |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS szy
        | FROM lineitem),
        |c AS (SELECT n,
        |  CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
        |  CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * sz / n AS cxz,
        |  CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / n AS czz,
        |  CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS cxy,
        |  CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * sy / n AS czy
        | FROM m),
        |lams AS (SELECT CAST(unnest([0, 1000000, 10000000, 100000000]) AS BIGINT) AS lam)
        |SELECT lam,
        | floor((cxy * (czz + lam) - cxz * czy)
        |   / ((cxx + lam) * (czz + lam) - cxz * cxz) * 1000000 + 0.5) / 1000000 AS b_qty_cents,
        | floor(((cxx + lam) * czy - cxz * cxy)
        |   / ((cxx + lam) * (czz + lam) - cxz * cxz) * 1000000 + 0.5) / 1000000 AS b_disc_cents
        |FROM c, lams ORDER BY lam""".stripMargin) { (s, d) =>
      val x = col("l_quantity").cast("long")
      val z = floor(col("l_discount") * 100 + 0.5).cast("long")
      val y = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      graft.api.Pipelines.ridgePath(Tables(s, d, "lineitem").select(x.as("x"), z.as("z"), y.as("y")),
          "x", "z", "y", Seq(0L, 1000000L, 10000000L, 100000000L))
        .select(col("lam"), col("b_x").as("b_qty_cents"), col("b_z").as("b_disc_cents"))
        .orderBy("lam")
    },

    // Token-budget water-filling: allocate HALF the corpus's tokens
    // across sources — equal shares first, then one redistribution of
    // the slack that capped (small) sources couldn't use. The
    // budgeted-pretraining allocator that q_pipe_3's proportional
    // rebalance can't express (proportional never reclaims slack).
    Q("q_pipe_4_waterfill",
      """WITH src AS (SELECT source, CAST(sum(n_chars // 5) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(toks) // 2 AS BIGINT) AS budget,
        |  CAST(count(*) AS BIGINT) AS n FROM src),
        |r1 AS (SELECT source, toks, budget, budget // n AS fair,
        |  least(toks, budget // n) AS alloc1 FROM src, tot),
        |slack AS (SELECT CAST(min(budget) - sum(alloc1) AS BIGINT) AS leftover,
        |  CAST(sum(CASE WHEN toks > fair THEN 1 ELSE 0 END) AS BIGINT) AS m FROM r1)
        |SELECT source, toks AS tokens_available, alloc1,
        | CAST(CASE WHEN toks > fair
        |   THEN least(toks, fair + CASE WHEN m > 0 THEN leftover // m ELSE 0 END)
        |   ELSE alloc1 END AS BIGINT) AS alloc_final,
        | CAST(CASE WHEN toks <= fair THEN 1 ELSE 0 END AS BIGINT) AS exhausted
        |FROM r1, slack ORDER BY source""".stripMargin) { (s, d) =>
      // Token budget: n_chars div 5 tokens per doc.
      graft.api.Pipelines.waterfillBudget(Tables(s, d, "documents"), "source", expr("n_chars div 5"))
        .withColumnRenamed("available", "tokens_available")
        .orderBy("source")
    },

    // Retrieval exposure share: which corpus label soaks up the DCG
    // mass across the top-10 lists of 8 probes — the fairness/bias
    // audit of a retrieval stack (q_ret_1 scores one ranking's
    // quality; this measures who GETS RANKED across many).
    Q("q_ret_9_exposure",
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 8),
         |r AS (SELECT p.pid, c.label,
         |  row_number() OVER (PARTITION BY p.pid
         |    ORDER BY ${graft.functions.VectorFunctions.Duck.cosine("c.embedding", "p.pvec")} DESC, c.vec_id) AS rn
         | FROM p, c),
         |mass AS (SELECT CAST(label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n_slots,
         |  CAST(sum(($expoWSql)[CAST(rn AS INT)]) AS BIGINT) AS w6
         | FROM r WHERE rn <= 10 GROUP BY 1),
         |t AS (SELECT CAST(sum(w6) AS BIGINT) AS tot FROM mass)
         |SELECT label, n_slots,
         | floor(CAST(w6 AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS exposure_share
         |FROM mass, t ORDER BY label""".stripMargin) { (s, d) =>
      // 8 probes broadcast against the corpus — one scan. At 100 TB the
      // probe fan-out stays a broadcast and the candidate side
      // pre-filters through IVF cells (q_sim_4) before ranking.
      graft.expressions.VectorExpressions.register(s)
      val e = Tables(s, d, "embeddings")
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
      val cand = e.filter(col("vec_id") >= 8).crossJoin(broadcast(probes))
        .select(col("pid"), col("label").cast("long").as("label"), col("vec_id"),
          expr("cosine_similarity(embedding, pvec)").as("cos"))
      graft.api.Pipelines.exposureShare(cand, "pid", "label", "cos", "vec_id")
        .orderBy("label")
    }
  )
}
