package graft.operators

import graft.Q
import graft.functions.{Num, VectorFunctions => VF}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bd): embedding-space additions —
  * the TwoNN intrinsic-dimension estimator, a quantization bit-width
  * sweep, kNN label homophily, and the cosine-vs-dot ranking
  * disagreement audit.
  *
  * Determinism discipline (§2.12): all distances use the shared fixed
  * left-fold accumulation (VectorFunctions/Duck mirrors); every
  * cross-row float reduction quantizes per-row values to integers
  * FIRST (the e3 residual pattern) so partial-aggregation order can
  * never change a sum; rankings tie-break on vec_id.
  */
object Round7dOps {

  val all: Seq[Q] = Seq(

    // TwoNN intrinsic dimension (Facco et al. 2017): each point's
    // ratio μ = d2/d1 of its two nearest neighbors estimates the local
    // manifold dimension as d ≈ N / Σ ln μ — no density assumption, no
    // PCA. Complements q_sim_19's participation ratio (variance-based,
    // linear) with a distance-based, nonlinear estimate.
    Q("q_sim_39_twonn_dim",
      s"""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
         |  ${VF.Duck.sqDist("a.embedding", "b.embedding")} AS d2
         | FROM s a JOIN s b ON a.vec_id <> b.vec_id),
         |r AS (SELECT i, d2, row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn FROM p),
         |nn AS (SELECT i,
         |  max(CASE WHEN rn = 1 THEN d2 END) AS d1sq,
         |  max(CASE WHEN rn = 2 THEN d2 END) AS d2sq
         | FROM r WHERE rn <= 2 GROUP BY i),
         |lm AS (SELECT i, CAST(floor(0.5 * ln(d2sq / d1sq) * 1000000 + 0.5) AS BIGINT) AS ln6
         | FROM nn WHERE d1sq > 0)
         |SELECT CAST(count(*) AS BIGINT) AS n_points,
         | CAST(sum(ln6) AS BIGINT) AS sum_ln_mu6,
         | floor(CAST(count(*) AS DOUBLE) * 1000000 / sum(ln6) * 10000 + 0.5) / 10000 AS dim_est
         |FROM lm""".stripMargin) { (s, d) =>
      // 200-point sample → 40k pairs.
      graft.api.Pipelines.twoNNDimension(
        Tables(s, d, "embeddings").filter(col("vec_id") < 200), "vec_id", "embedding")
    },

    // Quantization bit-width sweep: RMSE and worst-case error of
    // symmetric round-to-nearest at 2/4/8 bits — the storage-precision
    // curve behind q_sim_12's single-width int8 check ("how many bits
    // does THIS embedding table actually need?").
    Q("q_sim_40_bitwidth_sweep",
      """WITH lv AS (SELECT CAST(unnest([2, 4, 8]) AS BIGINT) AS bits),
        |sc AS (SELECT bits, CAST(power(2, bits - 1) - 1 AS DOUBLE) AS s FROM lv),
        |pr AS (SELECT bits, s, vec_id,
        |  CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(embedding, x ->
        |      (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * s + 0.5) / s)
        |      * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * s + 0.5) / s))),
        |    (acc, v) -> acc + v) * 1000000000 + 0.5) AS BIGINT) AS row_sq9,
        |  CAST(floor(list_max(list_transform(embedding, x ->
        |    abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * s + 0.5) / s)))
        |    * 1000000 + 0.5) AS BIGINT) AS row_max6,
        |  CAST(len(embedding) AS BIGINT) AS dim
        | FROM embeddings, sc)
        |SELECT bits,
        | CAST(sum(dim) AS BIGINT) AS n_values,
        | floor(sqrt(CAST(sum(row_sq9) AS DOUBLE) / 1000000000 / sum(dim)) * 1000000 + 0.5) / 1000000 AS rmse,
        | floor(CAST(max(row_max6) AS DOUBLE) / 1000000 * 1000000 + 0.5) / 1000000 AS max_abs_err
        |FROM pr GROUP BY bits ORDER BY bits""".stripMargin) { (s, d) =>
      graft.api.Pipelines.bitwidthSweep(Tables(s, d, "embeddings"), "embedding")
        .orderBy("bits")
    },

    // kNN label homophily with lift: the share of each point's 10
    // nearest neighbors sharing its label, per label, against that
    // label's prevalence baseline. Homophily≫prevalence is what makes
    // q_sim_21's kNN classifier work; lift≈1 means the embedding
    // carries no label signal at k=10.
    Q("q_sim_41_homophily",
      s"""WITH sm AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 300),
         |p AS (SELECT a.vec_id AS i, a.label AS la, b.label AS lb,
         |  ${VF.Duck.cosine("a.embedding", "b.embedding")} AS cos, b.vec_id AS j
         | FROM sm a JOIN sm b ON a.vec_id <> b.vec_id),
         |r AS (SELECT i, la, lb, row_number() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM p),
         |h AS (SELECT i, la, CAST(sum(CASE WHEN lb = la THEN 1 ELSE 0 END) AS BIGINT) AS same10
         | FROM r WHERE rn <= 10 GROUP BY i, la),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sm),
         |lbl AS (SELECT la AS label, CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(sum(same10) AS BIGINT) AS n_same FROM h GROUP BY 1)
         |SELECT CAST(label AS BIGINT) AS label, n_points,
         | floor(CAST(n_same AS DOUBLE) / (10 * n_points) * 1000000 + 0.5) / 1000000 AS homophily,
         | floor(CAST(n_points AS DOUBLE) / ns * 1000000 + 0.5) / 1000000 AS prevalence,
         | floor((CAST(n_same AS DOUBLE) / (10 * n_points))
         |   / (CAST(n_points AS DOUBLE) / ns) * 10000 + 0.5) / 10000 AS lift
         |FROM lbl, n ORDER BY label""".stripMargin) { (s, d) =>
      // 300-point sample → 90k scored pairs, one ranking window; the
      // homophily numerators are exact neighbor counts. Corpus scale:
      // the kNN graph comes from q_sim_36's mutual-kNN machinery; this
      // aggregation layer is unchanged.
      val sm = Tables(s, d, "embeddings").filter(col("vec_id") < 300)
        .select(col("vec_id"), col("label"), col("embedding"))
        .localCheckpoint()
      val ns = sm.count()
      val a = sm.select(col("vec_id").as("i"), col("label").as("la"), col("embedding").as("ea"))
      val b = sm.select(col("vec_id").as("j"), col("label").as("lb"), col("embedding").as("eb"))
      val w = Window.partitionBy("i").orderBy(col("cos").desc, col("j"))
      a.join(broadcast(b), col("i") =!= col("j"))
        .select(col("i"), col("la"), col("lb"),
          VF.cosine(col("ea"), col("eb")).as("cos"), col("j"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .groupBy("i", "la")
        .agg(sum(when(col("lb") === col("la"), 1L).otherwise(0L)).as("same10"))
        .groupBy(col("la").cast("long").as("label"))
        .agg(count(lit(1)).as("n_points"), sum("same10").as("n_same"))
        .select(col("label"), col("n_points"),
          Num.round(col("n_same").cast("double") / (col("n_points") * 10), 6).as("homophily"),
          Num.round(col("n_points").cast("double") / ns, 6).as("prevalence"),
          Num.round((col("n_same").cast("double") / (col("n_points") * 10))
            / (col("n_points").cast("double") / ns), 4).as("lift"))
        .orderBy("label")
    },

    // Cosine-vs-dot ranking disagreement: top-10 lists under the two
    // scores for 8 probes, overlap and Jaccard per probe — the
    // norm-bias audit (dot favors long vectors; if the lists diverge,
    // the ANN index metric choice MATTERS for this table).
    Q("q_sim_42_cos_dot_disagree",
      s"""WITH p AS (SELECT vec_id AS pid, embedding AS pvec FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
         |sc AS (SELECT p.pid, c.vec_id,
         |  ${VF.Duck.cosine("c.embedding", "p.pvec")} AS cosv,
         |  ${VF.Duck.dot("c.embedding", "p.pvec")} AS dotv
         | FROM p, c),
         |rc AS (SELECT pid, vec_id, row_number() OVER (PARTITION BY pid ORDER BY cosv DESC, vec_id) AS rn FROM sc),
         |rd AS (SELECT pid, vec_id, row_number() OVER (PARTITION BY pid ORDER BY dotv DESC, vec_id) AS rn FROM sc),
         |ov AS (SELECT a.pid, CAST(count(*) AS BIGINT) AS n_overlap
         | FROM rc a JOIN rd b ON a.pid = b.pid AND a.vec_id = b.vec_id
         | WHERE a.rn <= 10 AND b.rn <= 10 GROUP BY a.pid)
         |SELECT CAST(p.pid AS BIGINT) AS pid,
         | CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         | floor(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE)
         |   / (20 - coalesce(ov.n_overlap, 0)) * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM p LEFT JOIN ov ON p.pid = ov.pid ORDER BY pid""".stripMargin) { (s, d) =>
      // Both scores come out of ONE broadcast crossJoin pass (the dot
      // is a sub-term of the cosine — scored once); two rank windows
      // over the same 8-group frame, then an 8-row overlap join.
      val e = Tables(s, d, "embeddings")
      val p = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
      val c = e.filter(col("vec_id") >= 8)
      val sc = c.crossJoin(broadcast(p))
        .select(col("pid"), col("vec_id"),
          VF.cosine(col("embedding"), col("pvec")).as("cosv"),
          VF.dot(col("embedding"), col("pvec")).as("dotv"))
        .localCheckpoint()
      val wc = Window.partitionBy("pid").orderBy(col("cosv").desc, col("vec_id"))
      val wd = Window.partitionBy("pid").orderBy(col("dotv").desc, col("vec_id"))
      val rc = sc.withColumn("rn", row_number().over(wc)).filter(col("rn") <= 10)
        .select(col("pid"), col("vec_id"))
      val rd = sc.withColumn("rn", row_number().over(wd)).filter(col("rn") <= 10)
        .select(col("pid").as("pid2"), col("vec_id").as("vid2"))
      val ov = rc.join(rd, col("pid") === col("pid2") && col("vec_id") === col("vid2"))
        .groupBy("pid").agg(count(lit(1)).as("n_overlap"))
      p.select(col("pid")).join(ov, Seq("pid"), "left_outer")
        .select(col("pid").cast("long").as("pid"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          Num.round(coalesce(col("n_overlap"), lit(0L)).cast("double")
            / (lit(20) - coalesce(col("n_overlap"), lit(0L))), 6).as("jaccard"))
        .orderBy("pid")
    }
  )
}
