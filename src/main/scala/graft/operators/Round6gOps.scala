package graft.operators

import graft.Q
import graft.sources.Tables
import graft.expressions.VectorExpressions
import graft.functions.VectorFunctions.Duck
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 continuation (SURVEY §2.11aw): embedding-space STRUCTURE
  * audits — the geometry diagnostics an ANN/retrieval deployment runs
  * before trusting its index: hubness (k-occurrence skew), kNN-graph
  * reciprocity, Johnson–Lindenstrauss random-projection distortion, and
  * corpus anisotropy via the O(n) centroid-sum identity.
  *
  * Determinism discipline (§2.12): every cosine/distance is the shared
  * float-multiply → widen → left-fold contract (VectorFunctions /
  * CosineSimilarity — bit-identical across engines); per-row ratios and
  * unit components quantize to integers BEFORE any cross-row sum, so no
  * float accumulation ever crosses a partition boundary.
  */
object Round6gOps {

  val all: Seq[Q] = Seq(

    // Hubness audit: in-degree histogram of the directed 5-NN cosine
    // graph. High-dimensional spaces concentrate: a few "hub" vectors
    // appear in a disproportionate share of neighbor lists (k-occurrence
    // skew), silently degrading kNN classification and retrieval
    // diversity. The histogram (how many vectors are cited 0, 1, 2, …
    // times) is the standard readout; a heavy right tail = hubby space.
    Q("q_sim_35_hubness",
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 2000),
         |nn AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |  row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY ${Duck.cosine("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
         | FROM v a JOIN v b ON a.vec_id <> b.vec_id),
         |ind AS (SELECT dst AS vec_id, CAST(count(*) AS BIGINT) AS indeg
         |        FROM nn WHERE rk <= 5 GROUP BY 1)
         |SELECT indeg, CAST(count(*) AS BIGINT) AS n_vectors
         |FROM (SELECT v.vec_id, COALESCE(i.indeg, CAST(0 AS BIGINT)) AS indeg
         |      FROM v LEFT JOIN ind i ON v.vec_id = i.vec_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Brute-force pair space on a CONSTANT-bounded eval slice (every
      // 4th vector, capped at vec_id < 2000 → ≤500 sampled vectors at
      // any SF — the q_sim_21 eval-set pattern). At 100 TB the directed
      // kNN graph comes from the LSH/IVF candidate generation
      // (q_sim_4/6/8) and this becomes an O(E) in-degree aggregate.
      val v = Tables(s, d, "embeddings")
        .filter(col("vec_id") % 4 === 0 && col("vec_id") < 2000)
        .select(col("vec_id"), col("embedding"))
      graft.api.Pipelines.hubnessHistogram(v, "vec_id",
          graft.api.Pipelines.knnGraph(v, "vec_id", "embedding", 5), "dst")
        .withColumnRenamed("n_nodes", "n_vectors")
        .orderBy("indeg")
    },

    // kNN-graph reciprocity: the share of directed 5-NN edges whose
    // reverse edge is also a 5-NN edge, per label. Mutual-kNN is the
    // usual graph-cleanup step before density clustering (mutual edges
    // are the trustworthy ones); a low mutual share flags asymmetric
    // neighborhoods — exactly what hubness produces.
    Q("q_sim_36_mutual_knn",
      s"""WITH v AS (SELECT vec_id, label, embedding FROM embeddings
         |           WHERE vec_id % 4 = 0 AND vec_id < 2000),
         |nn AS (SELECT a.vec_id AS src, a.label AS lab, b.vec_id AS dst,
         |  row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY ${Duck.cosine("a.embedding", "b.embedding")} DESC, b.vec_id) AS rk
         | FROM v a JOIN v b ON a.vec_id <> b.vec_id),
         |top AS (SELECT src, lab, dst FROM nn WHERE rk <= 5)
         |SELECT t.lab AS label, CAST(count(*) AS BIGINT) AS n_edges,
         | CAST(sum(CASE WHEN m.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual,
         | floor(CAST(sum(CASE WHEN m.src IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |   / count(*) * 1000000 + 0.5) / 1000000 AS mutual_share
         |FROM top t LEFT JOIN top m ON t.src = m.dst AND t.dst = m.src
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Same pair machinery as q_sim_35 INCLUDING its vec_id < 2000
      // cap (r11: the checkpoint-capture lint showed this query had
      // q_sim_35's pair join without its r10 bound — ≤500 vectors at
      // any SF; the cap binds nothing at the shipped fixtures). The
      // reciprocity test is a self-join of the top-5 edge set on the
      // swapped key — edge-set sized (5n rows), broadcastable at any
      // corpus scale; the kNN graph itself at scale comes from LSH/IVF
      // candidates, not this brute-force eval slice.
      VectorExpressions.register(s)
      val v = Tables(s, d, "embeddings")
        .filter(col("vec_id") % 4 === 0 && col("vec_id") < 2000)
        .select(col("vec_id"), col("label"), col("embedding"))
      val pairs = v.as("a").join(broadcast(v.as("b")),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("a.label").as("lab"),
          col("b.vec_id").as("dst"),
          expr("cosine_similarity(a.embedding, b.embedding)").as("cos"))
      val rk = row_number().over(
        Window.partitionBy("src").orderBy(col("cos").desc, col("dst")))
      val top = pairs.withColumn("rk", rk).filter(col("rk") <= 5)
        .select("src", "lab", "dst").localCheckpoint()
      top.as("t").join(broadcast(top.as("m")),
          col("t.src") === col("m.dst") && col("t.dst") === col("m.src"), "left")
        .groupBy(col("t.lab").as("label"))
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("m.src").isNotNull, 1).otherwise(0)).cast("long").as("n_mutual"))
        .select(col("label"), col("n_edges"), col("n_mutual"),
          floor(col("n_mutual").cast("double") / col("n_edges") * 1000000 + 0.5)
            .divide(1000000).as("mutual_share"))
        .orderBy("label")
    },

    // Johnson–Lindenstrauss distortion audit: project 64-dim vectors to
    // 16 dims with a DETERMINISTIC Rademacher matrix (sign from the
    // repo's multiplicative hash of (d, j)), and measure the squared-
    // distance ratio (‖P(a−b)‖²/16) / ‖a−b‖² on consecutive-id pairs.
    // A mean ratio near 1 with tight spread certifies the projection
    // preserves geometry — the certificate needed before running the
    // cheap 16-dim first pass of a two-stage ANN at corpus scale.
    Q("q_sim_37_rp_distortion",
      """WITH pr AS (SELECT a.vec_id AS pid, a.label AS label,
        |  list_transform(list_zip(a.embedding, b.embedding),
        |    p -> struct_extract(p, 1) - struct_extract(p, 2)) AS diff
        | FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        | WHERE a.vec_id % 2 = 0),
        |pj AS (SELECT pid, label, diff,
        |  list_transform(generate_series(0, 15), j ->
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(generate_series(0, 63), d ->
        |        (CASE WHEN ((d*17 + j) * 2654435761 % 1000000007) % 2 = 0
        |         THEN 1 ELSE -1 END) * CAST(diff[d+1] AS DOUBLE))),
        |      (acc, x) -> acc + x)) AS plist
        | FROM pr),
        |rt AS (SELECT pid, label,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(plist, x -> x * x)), (acc, x) -> acc + x) / 16 AS projsq,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(diff, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |    (acc, x) -> acc + x) AS origsq
        | FROM pj),
        |q AS (SELECT label, CAST(floor(projsq / origsq * 1000000 + 0.5) AS BIGINT) AS r6
        |      FROM rt WHERE origsq > 0)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
        | floor(CAST(sum(r6) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mean_ratio,
        | CAST(min(r6) AS DOUBLE) / 1000000 AS min_ratio,
        | CAST(max(r6) AS DOUBLE) / 1000000 AS max_ratio
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // The sign matrix is pure arithmetic of (d, j) — no stored state,
      // any executor regenerates it; the projection is a per-row nested
      // fold (left-to-right both engines → bit-exact), and per-pair
      // ratios quantize to 1e-6 integers BEFORE the per-label mean so
      // no float sum crosses rows. At 100 TB: the projection is a
      // map-only pass; pairs come from the dedup/ANN candidate stream.
      val e = Tables(s, d, "embeddings")
      val pr = e.as("a").join(e.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
        .filter(col("a.vec_id") % 2 === 0)
        .select(col("a.label").as("label"),
          expr("zip_with(a.embedding, b.embedding, (x, y) -> x - y)").as("diff"))
      val rt = pr
        .withColumn("plist", expr(
          """transform(sequence(0, 15), j ->
            |  aggregate(transform(sequence(0, 63), d ->
            |    (CASE WHEN ((d*17 + j) * 2654435761 % 1000000007) % 2 = 0
            |     THEN 1 ELSE -1 END) * CAST(diff[d] AS DOUBLE)),
            |    CAST(0 AS DOUBLE), (acc, x) -> acc + x))""".stripMargin))
        .select(col("label"),
          (expr("aggregate(transform(plist, x -> x * x), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") / 16)
            .as("projsq"),
          expr("aggregate(transform(diff, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
            .as("origsq"))
      rt.filter(col("origsq") > 0)
        .select(col("label"),
          floor(col("projsq") / col("origsq") * 1000000 + 0.5).cast("long").as("r6"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_pairs"),
          (floor(sum("r6").cast("double") / count(lit(1)) + 0.5) / 1000000).as("mean_ratio"),
          (min("r6").cast("double") / 1000000).as("min_ratio"),
          (max("r6").cast("double") / 1000000).as("max_ratio"))
        .orderBy("label")
    },

    // Corpus anisotropy WITHOUT the pair space: mean pairwise cosine of
    // unit vectors via the centroid-sum identity
    //   mean_{i≠j} uᵢ·uⱼ = (‖Σu‖² − Σ‖uᵢ‖²) / (n(n−1)),
    // per label and global (-1). Embedding literature calls a high value
    // "anisotropy" (vectors crowd a narrow cone — cosine loses contrast);
    // it's the one-number geometry health check. The identity turns the
    // O(n²) definition into one O(n·dim) pass — THE scale story.
    Q("q_sim_38_anisotropy",
      s"""WITH u AS (SELECT vec_id, label, embedding, ${Duck.l2norm("embedding")} AS nrm
         |           FROM embeddings),
         |ex AS (SELECT label, d,
         |  CAST(floor(CAST(embedding[d+1] AS DOUBLE) / nrm * 1000 + 0.5) AS BIGINT) AS uq
         | FROM (SELECT label, embedding, nrm, unnest(generate_series(0, 63)) AS d
         |       FROM u WHERE nrm > 0)),
         |grp AS (SELECT label, d, CAST(sum(uq) AS BIGINT) AS sd,
         |        CAST(sum(uq * uq) AS BIGINT) AS ssq, CAST(count(*) AS BIGINT) AS n
         |        FROM ex GROUP BY 1, 2),
         |lab AS (SELECT label, CAST(sum(sd * sd) AS BIGINT) AS num,
         |        CAST(sum(ssq) AS BIGINT) AS selfsum, max(n) AS n
         |        FROM grp GROUP BY 1),
         |gl AS (SELECT d, CAST(sum(sd) AS BIGINT) AS sd, CAST(sum(ssq) AS BIGINT) AS ssq
         |       FROM grp GROUP BY 1),
         |glr AS (SELECT CAST(-1 AS INTEGER) AS label,
         |        CAST(sum(sd * sd) AS BIGINT) AS num, CAST(sum(ssq) AS BIGINT) AS selfsum,
         |        (SELECT CAST(count(*) AS BIGINT) FROM u WHERE nrm > 0) AS n FROM gl)
         |SELECT label, n,
         | floor(CAST(num - selfsum AS DOUBLE) / (1000000.0 * n * (n - 1)) * 1000000 + 0.5)
         |  / 1000000 AS mean_cos
         |FROM (SELECT * FROM lab UNION ALL SELECT * FROM glr)
         |ORDER BY label""".stripMargin) { (s, d) =>
      // |S_d| ≤ n·1000 → S_d² ≤ 4e12·(n/2000)², 64 dims ≈ 2.6e14 at the
      // fixture — far inside long. Shuffle is keyed (label, d): 64·|labels|
      // groups regardless of corpus size.
      graft.api.Pipelines.anisotropy(Tables(s, d, "embeddings"), "label", "embedding")
        .orderBy("label")
    }
  )
}
