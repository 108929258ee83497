package graft.operators

import graft.Q
import graft.expressions.VectorExpressions
import graft.functions.{KMeans, VectorFunctions}
import graft.functions.VectorFunctions.Duck
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num.round

/** §2.9 (vector half) — similarity search & clustering primitives over the
  * `embeddings` table, plus the ANN operators a training-data pipeline
  * needs (brute-force top-k baseline and an IVF-bucketed scale path).
  *
  * Scale notes:
  *  - Brute-force knn broadcasts the PROBE side (1 row / small set); the
  *    corpus side streams — linear scan, embarrassingly parallel. Valid
  *    baseline at any scale for small probe sets.
  *  - IVF: vectors are pre-assigned to the nearest of k centroids (one
  *    broadcast join against the centroid table); a query then scans only
  *    its probe cell(s) — the partition-pruned path. At 100 TB the cell id
  *    becomes the table's partition column.
  *  - All-pairs similarity is demonstration-bounded; the production
  *    near-dup route is MinHash-LSH (TextOps) or IVF-blocked search.
  */
object Similarity {

  val all: Seq[Q] = Seq(

    Q("q_sim_1_cosine_pair",
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | floor((${Duck.cosine("a.embedding", "b.embedding")}) * 1000000 + 0.5) / 1000000 AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE a.vec_id < 10 AND b.vec_id < 10
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val e = Tables(s, d, "embeddings").filter(col("vec_id") < 10)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      VectorExpressions.register(s)
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(expr("cosine_similarity(va, vb)"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    },

    Q("q_sim_2_knn",
      s"""SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank,
         | vec_id, floor((cos) * 1000000 + 0.5) / 1000000 AS cosine
         |FROM (
         | SELECT e.vec_id, ${Duck.cosine("e.embedding", "p.pvec")} AS cos
         | FROM embeddings e,
         |  (SELECT embedding AS pvec, label AS plabel FROM embeddings WHERE vec_id = 0) p
         | WHERE e.label = p.plabel AND e.vec_id <> 0)
         |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin) { (s, d) =>
      // Brute-force cosine top-k: probe row broadcast against the corpus,
      // TakeOrderedAndProject for the top-5 (per-partition heaps).
      graft.api.Pipelines.cosineKnn(Tables(s, d, "embeddings"), "vec_id", "embedding",
          "label", 0L, 5)
        .select(row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long").as("rank"),
          col("vec_id"), round(col("cos"), 6).as("cosine"))
    },

    Q("q_sim_3_centroid",
      """WITH e AS (
        | SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS val
        | FROM embeddings),
        |cent AS (SELECT label, pos, avg(val) AS c FROM e GROUP BY label, pos)
        |SELECT e.vec_id, e.label, floor((sqrt(sum((e.val - cent.c) * (e.val - cent.c)))) * 1000000 + 0.5) / 1000000 AS dist_to_centroid
        |FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
        |GROUP BY e.vec_id, e.label ORDER BY e.vec_id""".stripMargin) { (s, d) =>
      // Clustering primitive: per-label centroid, then each vector's L2
      // distance to its own centroid. Shuffles O(n·dim) exploded rows —
      // at scale the centroid table is tiny and gets broadcast back.
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), (col("pos") + 1).as("pos"),
          col("col").cast("double").as("val"))
      val cent = e.groupBy("label", "pos").agg(avg("val").as("c"))
      e.join(broadcast(cent), Seq("label", "pos"))
        .withColumn("diff2", (col("val") - col("c")) * (col("val") - col("c")))
        .groupBy("vec_id", "label")
        .agg(round(sqrt(sum("diff2")), 6).as("dist_to_centroid"))
        .orderBy("vec_id")
    },

    Q("q_sim_4_ann_ivf",
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |assign AS (
         | SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id ORDER BY ${Duck.sqDist("e.embedding", "c.cvec")}, c.cid) AS rn
         |  FROM embeddings e, cents c) WHERE rn = 1),
         |probe AS (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0),
         |pcell AS (SELECT cid AS pcid FROM assign WHERE vec_id = 0)
         |SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank, vec_id, floor((cos) * 1000000 + 0.5) / 1000000 AS cosine
         |FROM (
         | SELECT e.vec_id, ${Duck.cosine("e.embedding", "p.pvec")} AS cos
         | FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, probe p, pcell
         | WHERE a.cid = pcell.pcid AND e.vec_id <> 0)
         |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin) { (s, d) =>
      // IVF-style ANN: coarse quantization to 8 fixed centroids (vec_id<8
      // as deterministic "trained" centroids), then exact search inside
      // the probe's cell only.
      val e = Tables(s, d, "embeddings")
      val withCell = graft.api.Pipelines.ivfIndex(e, "vec_id", "embedding", e.filter(col("vec_id") < 8))
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pvec"))
      val pcell = withCell.filter(col("vec_id") === 0).select(col("cid").as("pcid"))
      withCell.join(broadcast(pcell), col("cid") === col("pcid"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), expr("cosine_similarity(embedding, pvec)").as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(5)
        .select(row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long").as("rank"),
          col("vec_id"), round(col("cos"), 6).as("cosine"))
    },

    Q("q_sim_6_lsh_cosine",
      s"""WITH sig AS (
         | SELECT vec_id, embedding,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 8)), (acc, j) -> acc +
         |   CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |     list_transform(list_zip(embedding, range(0, len(embedding))),
         |       p -> CAST(struct_extract(p, 1) AS DOUBLE) * (((struct_extract(p, 2) * 31 + j * 17) % 7) - 3))),
         |     (a, x) -> a + x) > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS bucket
         | FROM embeddings WHERE vec_id < 500)
         |SELECT a.bucket AS bucket, a.vec_id AS id_a, b.vec_id AS id_b,
         | floor((${Duck.cosine("a.embedding", "b.embedding")}) * 1000000 + 0.5) / 1000000 AS cosine
         |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |ORDER BY a.bucket, id_a, id_b""".stripMargin) { (s, d) =>
      // Random-hyperplane LSH for cosine: 8 deterministic pseudo-random
      // hyperplanes (w[i,j] = ((31i+17j) mod 7) − 3) → 8 sign bits →
      // 256 buckets; exact cosine only INSIDE a bucket. This is the
      // embeddings twin of MinHash-LSH: candidate generation shuffles
      // O(n) bucket keys, never the O(n²) pair space. The bucket is the
      // native codegen'd lsh_bucket Expression — the round-1 nested-HOF
      // formulation (aggregate inside aggregate with a captured lambda
      // variable) fell out of whole-stage codegen and dominated the
      // driver bench; bit-identical output (same fold order, same sign
      // test), one tight loop per row.
      VectorExpressions.register(s)
      val sig = Tables(s, d, "embeddings")
        .filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"), expr("lsh_bucket(embedding, 8)").as("bucket"))
      val a = sig.select(col("bucket"), col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = sig.select(col("bucket").as("bucket_b"), col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
        .select(col("bucket"), col("id_a"), col("id_b"),
          round(expr("cosine_similarity(va, vb)"), 6).as("cosine"))
        .orderBy("bucket", "id_a", "id_b")
    },

    Q("q_sim_5_embed_neardup",
      s"""SELECT id_a, id_b, floor((cos) * 1000000 + 0.5) / 1000000 AS cosine,
         | CAST(row_number() OVER (ORDER BY cos DESC, id_a, id_b) AS BIGINT) AS rank
         |FROM (
         | SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${Duck.cosine("a.embedding", "b.embedding")} AS cos
         | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         | WHERE a.vec_id < 60 AND b.vec_id < 60)
         |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin) { (s, d) =>
      // Embedding-cosine near-dup: rank the most similar pairs (the
      // dedup-decision input). Demonstration-bounded to 60 vectors; the
      // scale path is IVF/LSH blocking, not all-pairs.
      val e = Tables(s, d, "embeddings").filter(col("vec_id") < 60)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      val w = Window.orderBy(col("cos").desc, col("id_a"), col("id_b"))
      VectorExpressions.register(s)
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("cosine_similarity(va, vb)").as("cos"))
        .orderBy(col("cos").desc, col("id_a"), col("id_b"))
        .limit(20)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"),
          row_number().over(w).cast("long").as("rank"))
    },

    Q("q_sim_7_kmeans",
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
        |a2 AS (SELECT vec_id, cid, d2 FROM (
        |       SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2t)
        |       WHERE rn = 1)
        |SELECT vec_id, cid AS cluster, floor(sqrt(d2) * 1000000 + 0.5) / 1000000 AS dist
        |FROM a2 ORDER BY vec_id""".stripMargin) { (s, d) =>
      // Trained k-means (Lloyd, k=4, 1 update iteration unrolled, fully
      // declarative — no driver-side collect): deterministic init =
      // vectors 0..3, assign by argmin squared distance (tie→lowest cid),
      // recompute centroids as per-dimension means, re-assign, emit the
      // final assignment + distance. This is the IVF "training" step
      // q_sim_4 stubs with fixed centroids.
      //
      // Scale notes: assignment is a broadcast cross join against k
      // centroids + per-row argmin — no shuffle of the big side, O(n·k·dim)
      // flops, embarrassingly parallel. The update shuffles n·dim exploded
      // (cid,pos,val) rows into k·dim groups — at 100 TB you'd partial-
      // aggregate per partition first (sum+count), which Spark's hash agg
      // already does map-side, so the wire volume is executors×k×dim, not
      // n×dim. Iteration count is fixed → the whole plan stays lazy;
      // convergence-driven k-means would localCheckpoint per round.
      val e = Tables(s, d, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      val init = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      KMeans.assign(e, KMeans.update(KMeans.assign(e, init)))
        .select(col("vec_id"), col("cid").as("cluster"),
          round(sqrt(VectorFunctions.sqDist(col("v"), col("cvec"))), 6).as("dist"))
        .orderBy("vec_id")
    },

    Q("q_sim_8_ann_multiprobe",
      s"""WITH e AS (
         | SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
         |  CAST(unnest(embedding) AS DOUBLE) AS val
         | FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, pos, val AS c FROM e WHERE vec_id < 8),
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
         |pcell AS (SELECT cid FROM (
         |       SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn FROM d2t WHERE vec_id = 0)
         |       WHERE rn <= 2),
         |cand AS (SELECT a2.vec_id FROM a2 JOIN pcell ON a2.cid = pcell.cid WHERE a2.vec_id <> 0)
         |SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank,
         | vec_id, floor((cos) * 1000000 + 0.5) / 1000000 AS cosine
         |FROM (
         | SELECT x.vec_id, ${Duck.cosine("x.embedding", "p.pvec")} AS cos
         | FROM embeddings x JOIN cand ON x.vec_id = cand.vec_id,
         |  (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0) p)
         |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin) { (s, d) =>
      // The full IVF-Flat ANN pipeline, FAISS-style: TRAIN the coarse
      // quantizer (one Lloyd round, k=8, deterministic init), build the
      // IVF index (cell assignment per vector), then MULTI-PROBE search —
      // the probe visits its 2 nearest cells (nprobe=2 recovers most of
      // the recall single-probe IVF loses at cell boundaries), exact
      // cosine only inside those cells. Unbounded input: the whole
      // embeddings table is indexed.
      //
      // Scale notes: at 100 TB the cell id becomes the table's partition
      // key, so a probe reads nprobe/k of the data (partition pruning);
      // training samples, index build is one broadcast-assign pass, and
      // the search fan-out is a broadcast of probe vectors — no shuffle
      // of the corpus anywhere.
      VectorExpressions.register(s)
      val raw = Tables(s, d, "embeddings")
      val e = raw.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      val init = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cvec"))
      val cents = KMeans.update(KMeans.assign(e, init))
      val ivf = KMeans.assign(e, cents).select("vec_id", "cid")
      val pv = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
      val pcell = cents.crossJoin(broadcast(pv))
        .select(col("cid"), VectorFunctions.sqDist(col("pv"), col("cvec")).as("d2"))
        .orderBy(col("d2"), col("cid")).limit(2).select("cid")
      val cand = ivf.join(broadcast(pcell), Seq("cid"))
        .filter(col("vec_id") =!= 0).select("vec_id")
      val probeRaw = raw.filter(col("vec_id") === 0).select(col("embedding").as("pvec"))
      raw.join(cand, Seq("vec_id")).crossJoin(broadcast(probeRaw))
        .select(col("vec_id"), expr("cosine_similarity(embedding, pvec)").as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(5)
        .select(row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long").as("rank"),
          col("vec_id"), round(col("cos"), 6).as("cosine"))
    },

    Q("q_sim_9_pq",
      """WITH sub AS (
        | SELECT vec_id, (pos - 1) // 8 AS ss, (pos - 1) % 8 AS spos, val FROM (
        |  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings)),
        |cb AS (SELECT vec_id AS cid, ss, spos, val AS c FROM sub WHERE vec_id < 4),
        |dist AS (SELECT s.vec_id, s.ss, b.cid, sum((s.val - b.c) * (s.val - b.c)) AS d2
        |         FROM sub s JOIN cb b ON s.ss = b.ss AND s.spos = b.spos
        |         GROUP BY s.vec_id, s.ss, b.cid),
        |code AS (SELECT vec_id, ss, cid FROM (
        |         SELECT vec_id, ss, cid, row_number() OVER (PARTITION BY vec_id, ss ORDER BY d2, cid) AS rn FROM dist)
        |         WHERE rn = 1),
        |padc AS (SELECT ss, cid, d2 FROM dist WHERE vec_id = 0)
        |SELECT CAST(row_number() OVER (ORDER BY q6, vec_id) AS BIGINT) AS rank,
        | vec_id, floor(sqrt(adc2) * 1000000 + 0.5) / 1000000 AS adc_dist
        |FROM (
        | SELECT c.vec_id, sum(p.d2) AS adc2, floor(sqrt(sum(p.d2)) * 1000000 + 0.5) AS q6
        | FROM code c JOIN padc p ON c.ss = p.ss AND c.cid = p.cid
        | WHERE c.vec_id <> 0 GROUP BY c.vec_id)
        |ORDER BY q6, vec_id LIMIT 5""".stripMargin) { (s, d) =>
      // Ranking is on the distance quantized the way it is emitted
      // (1e-6), vec_id breaking ties: exact replicas of one vector (as
      // in a ScaleGen copy) then tie instead of ordering by the
      // summation-order noise in the unrounded float sum adc2.
      // Product quantization + asymmetric distance (PQ-ADC, the memory-
      // compressed ANN sketch): split 64 dims into 8 subspaces of 8,
      // quantize each subvector to the nearest of 4 deterministic
      // codewords (vec_id 0..3's subvectors as codebook) → each vector
      // compresses to 8 codes (64 floats → 8 small ints). Search scans
      // CODES, not vectors: the probe precomputes its distance to every
      // codeword once (8×4 table), and each candidate's approximate
      // distance is just 8 lookups + adds.
      //
      // Scale notes: the codebook and the probe's ADC table are both tiny
      // broadcasts; the code table is 8 bytes/vector — a 100 TB corpus
      // compresses to a scannable sketch, which is the point of PQ. The
      // encode step's groupBy shuffles n·64 exploded rows once at index-
      // build time; at scale you'd encode per-row with the broadcast
      // codebook in a single projection (no shuffle) — the exploded form
      // here keeps the oracle SQL an exact mirror.
      val raw = Tables(s, d, "embeddings")
      val sub = raw
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") / 8).cast("long").as("ss"),
          (col("pos") % 8).as("spos"), col("col").cast("double").as("val"))
      val cb = sub.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("ss").as("b_ss"),
          col("spos").as("b_spos"), col("val").as("c"))
      val dist = sub.join(broadcast(cb),
        col("ss") === col("b_ss") && col("spos") === col("b_spos"))
        .groupBy("vec_id", "ss", "cid")
        .agg(sum((col("val") - col("c")) * (col("val") - col("c"))).as("d2"))
      val wCode = Window.partitionBy("vec_id", "ss").orderBy(col("d2"), col("cid"))
      val code = dist.withColumn("rn", row_number().over(wCode))
        .filter(col("rn") === 1).select(col("vec_id"), col("ss"), col("cid"))
      val padc = dist.filter(col("vec_id") === 0)
        .select(col("ss").as("p_ss"), col("cid").as("p_cid"), col("d2").as("pd2"))
      code.join(broadcast(padc), col("ss") === col("p_ss") && col("cid") === col("p_cid"))
        .filter(col("vec_id") =!= 0)
        .groupBy("vec_id").agg(sum("pd2").as("adc2"))
        .withColumn("q6", floor(sqrt(col("adc2")) * 1000000 + 0.5))
        .orderBy(col("q6"), col("vec_id")).limit(5)
        .select(row_number().over(Window.orderBy(col("q6"), col("vec_id"))).cast("long").as("rank"),
          col("vec_id"), round(sqrt(col("adc2")), 6).as("adc_dist"))
    },

    Q("q_sim_10_pq_trained",
      """WITH sub AS (
        | SELECT vec_id, (pos - 1) // 8 AS ss, (pos - 1) % 8 AS spos, val FROM (
        |  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS pos,
        |   CAST(unnest(embedding) AS DOUBLE) AS val
        |  FROM embeddings)),
        |cb0 AS (SELECT vec_id AS cid, ss, spos, val AS c FROM sub WHERE vec_id < 4),
        |d0 AS (SELECT s.vec_id, s.ss, b.cid, sum((s.val - b.c) * (s.val - b.c)) AS d2
        |       FROM sub s JOIN cb0 b ON s.ss = b.ss AND s.spos = b.spos
        |       GROUP BY s.vec_id, s.ss, b.cid),
        |a0 AS (SELECT vec_id, ss, cid FROM (
        |       SELECT vec_id, ss, cid, row_number() OVER (PARTITION BY vec_id, ss ORDER BY d2, cid) AS rn FROM d0)
        |       WHERE rn = 1),
        |cb1 AS (SELECT a0.cid, s.ss, s.spos, avg(s.val) AS c
        |        FROM sub s JOIN a0 ON s.vec_id = a0.vec_id AND s.ss = a0.ss
        |        GROUP BY a0.cid, s.ss, s.spos),
        |d1 AS (SELECT s.vec_id, s.ss, b.cid, sum((s.val - b.c) * (s.val - b.c)) AS d2
        |       FROM sub s JOIN cb1 b ON s.ss = b.ss AND s.spos = b.spos
        |       GROUP BY s.vec_id, s.ss, b.cid),
        |code AS (SELECT vec_id, ss, cid FROM (
        |        SELECT vec_id, ss, cid, row_number() OVER (PARTITION BY vec_id, ss ORDER BY d2, cid) AS rn FROM d1)
        |        WHERE rn = 1),
        |padc AS (SELECT ss, cid, d2 FROM d1 WHERE vec_id = 0)
        |SELECT CAST(row_number() OVER (ORDER BY q6, vec_id) AS BIGINT) AS rank,
        | vec_id, floor(sqrt(adc2) * 1000000 + 0.5) / 1000000 AS adc_dist
        |FROM (
        | SELECT c.vec_id, sum(p.d2) AS adc2, floor(sqrt(sum(p.d2)) * 1000000 + 0.5) AS q6
        | FROM code c JOIN padc p ON c.ss = p.ss AND c.cid = p.cid
        | WHERE c.vec_id <> 0 GROUP BY c.vec_id)
        |ORDER BY q6, vec_id LIMIT 5""".stripMargin) { (s, d) =>
      // PQ with TRAINED sub-codebooks: one Lloyd round of k-means run
      // independently in each of the 8 subspaces (init = vectors 0..3's
      // subvectors, argmin ties → lowest cid), then encode + ADC search
      // as in q_sim_9. Training is per-subspace-parallel — the same
      // exploded aggregates, just keyed by (ss, cid); at scale each
      // subspace trains on a sample and the codebooks broadcast.
      val raw = Tables(s, d, "embeddings")
      val sub = raw
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") / 8).cast("long").as("ss"),
          (col("pos") % 8).as("spos"), col("col").cast("double").as("val"))
      def dists(cb: DataFrame): DataFrame =
        sub.join(broadcast(cb), col("ss") === col("b_ss") && col("spos") === col("b_spos"))
          .groupBy("vec_id", "ss", "cid")
          .agg(sum((col("val") - col("c")) * (col("val") - col("c"))).as("d2"))
      def argmin(d: DataFrame): DataFrame = {
        val w = Window.partitionBy("vec_id", "ss").orderBy(col("d2"), col("cid"))
        d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("ss"), col("cid"))
      }
      val cb0 = sub.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("ss").as("b_ss"),
          col("spos").as("b_spos"), col("val").as("c"))
      val a0 = argmin(dists(cb0))
        .select(col("vec_id").as("a_vid"), col("ss").as("a_ss"), col("cid"))
      val cb1 = sub.join(a0, col("vec_id") === col("a_vid") && col("ss") === col("a_ss"))
        .groupBy("cid", "ss", "spos").agg(avg("val").as("c"))
        .select(col("cid"), col("ss").as("b_ss"), col("spos").as("b_spos"), col("c"))
      val d1 = dists(cb1)
      val code = argmin(d1)
      val padc = d1.filter(col("vec_id") === 0)
        .select(col("ss").as("p_ss"), col("cid").as("p_cid"), col("d2").as("pd2"))
      code.join(broadcast(padc), col("ss") === col("p_ss") && col("cid") === col("p_cid"))
        .filter(col("vec_id") =!= 0)
        .groupBy("vec_id").agg(sum("pd2").as("adc2"))
        .withColumn("q6", floor(sqrt(col("adc2")) * 1000000 + 0.5))
        .orderBy(col("q6"), col("vec_id")).limit(5)
        .select(row_number().over(Window.orderBy(col("q6"), col("vec_id"))).cast("long").as("rank"),
          col("vec_id"), round(sqrt(col("adc2")), 6).as("adc_dist"))
    }
  )
}
