package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11ac): dedup/text/multimodal
  * extensions — asymmetric containment, duplicate DOWNWEIGHTING (keep
  * with weight 1/k instead of dropping), corpus-derived stopword
  * profiles, shingle-size sensitivity, and a single-bin DFT audio
  * feature with plan-time trig tables.
  *
  * Determinism discipline (§2.12): set statistics are exact integer
  * counts; per-pair/per-cluster rationals floor-quantize to 1e-6
  * integers BEFORE any cross-row mean; the DFT cos/sin tables are
  * plan-time integer constants embedded identically in both engines.
  */
object Round5tOps {

  val all: Seq[Q] = Seq(

    // Asymmetric containment |A∩B|/|A|: catches A-inside-B duplication
    // that Jaccard dilutes away when B is much larger (the quote/
    // concatenation case every crawl corpus has).
    Q("q_dedup_19_containment",
      """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        | FROM documents WHERE doc_id < 40),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(count(*) AS BIGINT) AS c
        | FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        | GROUP BY 1, 2),
        |sc AS (SELECT ida, idb, c, sa.n AS na, sb.n AS nb,
        |  CAST(floor(CAST(c AS DOUBLE) / sa.n * 1000000 + 0.5) AS BIGINT) AS cont6,
        |  CAST(floor(CAST(c AS DOUBLE) / (sa.n + sb.n - c) * 1000000 + 0.5) AS BIGINT) AS jac6
        | FROM inter JOIN sz sa ON inter.ida = sa.doc_id JOIN sz sb ON inter.idb = sb.doc_id)
        |SELECT ida, idb, cont6 / 1000000.0 AS containment, jac6 / 1000000.0 AS jaccard
        |FROM sc WHERE cont6 >= 500000
        |ORDER BY cont6 DESC, ida, idb LIMIT 20""".stripMargin) { (s, d) =>
      // Directional pairs (A,B) and (B,A) scored separately — that IS
      // the point (containment is asymmetric). Bounded demo pairs
      // (doc_id < 40, the q_dedup_5 contract); at scale the candidate
      // pairs come from the MinHash-LSH bucket join and this scoring
      // runs only on candidates.
      val toks = Tables(s, d, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct().localCheckpoint()
      val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = toks.as("a")
        .join(toks.as("b"), col("a.tok") === col("b.tok") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .agg(count(lit(1)).as("c"))
      val sc = inter
        .join(broadcast(sz.select(col("doc_id").as("ida"), col("n").as("na"))), Seq("ida"))
        .join(broadcast(sz.select(col("doc_id").as("idb"), col("n").as("nb"))), Seq("idb"))
        .select(col("ida"), col("idb"),
          floor(col("c").cast("double") / col("na") * 1000000 + 0.5).cast("long").as("cont6"),
          floor(col("c").cast("double") / (col("na") + col("nb") - col("c")) * 1000000 + 0.5)
            .cast("long").as("jac6"))
      sc.filter(col("cont6") >= 500000)
        .select(col("ida"), col("idb"), (col("cont6") / 1000000.0).as("containment"),
          (col("jac6") / 1000000.0).as("jaccard"), col("cont6"))
        .orderBy(col("cont6").desc, col("ida"), col("idb")).limit(20).drop("cont6")
    },

    // Duplicate downweighting: keep every copy but weight it 1/k (k =
    // exact-dup cluster size) — the training-mix alternative to
    // dropping (dropping loses the duplication signal; weighting keeps
    // the distribution while bounding any one text's influence).
    // Effective corpus size per source vs raw count.
    Q("q_dedup_20_soft_weight",
      """WITH c AS (SELECT doc_id, source, md5(text) AS dg FROM documents),
        |k AS (SELECT dg, CAST(count(*) AS BIGINT) AS k FROM c GROUP BY 1),
        |w AS (SELECT c.source, CAST(1000000 // k.k AS BIGINT) AS w6
        | FROM c JOIN k ON c.dg = k.dg)
        |SELECT source, CAST(count(*) AS BIGINT) AS raw_docs,
        | floor(CAST(sum(w6) AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS effective_docs,
        | floor(CAST(sum(w6) AS DOUBLE) / count(*) / 1000000 * 10000 + 0.5) / 10000 AS retention
        |FROM w GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      graft.api.Pipelines.softDedupWeights(Tables(s, d, "documents"), "source", "text")
        .groupBy("source")
        .agg(count(lit(1)).as("raw_docs"),
          (floor(sum("w6").cast("double") / 1000000 * 10000 + 0.5) / 10000).as("effective_docs"),
          (floor(sum("w6").cast("double") / count(lit(1)) / 1000000 * 10000 + 0.5) / 10000)
            .as("retention"))
        .orderBy("source")
    },

    // Corpus-derived stopword profile: the global top-10 tokens (the
    // corpus's OWN function words — no language-specific list) and each
    // language's share of tokens falling in that set. A diverging share
    // flags register/domain drift per language slice.
    Q("q_text_45_stopword_share",
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |top10 AS (SELECT tok FROM (
        |  SELECT tok, count(*) AS c, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        |  FROM toks GROUP BY tok) WHERE rn <= 10),
        |per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(CASE WHEN tok IN (SELECT tok FROM top10) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
        | FROM toks GROUP BY 1)
        |SELECT lang, n_tok, n_stop,
        | floor(CAST(n_stop AS DOUBLE) / n_tok * 1000000 + 0.5) / 1000000 AS stop_share
        |FROM per ORDER BY lang""".stripMargin) { (s, d) =>
      // The top-10 is chosen on (count DESC, token) — an exact integer
      // ordering — then broadcast as a left_semi-style membership flag;
      // one token-explode pass feeds both the vocabulary ranking and
      // the per-language shares.
      val toks = Tables(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .localCheckpoint()
      val top10 = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(10)
        .select(col("tok").as("stop_tok"))
      toks.join(broadcast(top10), col("tok") === col("stop_tok"), "left_outer")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("stop_tok").isNotNull, 1L).otherwise(0L)).as("n_stop"))
        .select(col("lang"), col("n_tok"), col("n_stop"),
          (floor(col("n_stop").cast("double") / col("n_tok") * 1000000 + 0.5) / 1000000)
            .as("stop_share"))
        .orderBy("lang")
    },

    // Shingle-size sensitivity: mean pairwise Jaccard at k = 1, 2, 3 —
    // quantifies how fast longer shingles sharpen duplicate
    // discrimination (unigram sets overlap by vocabulary; trigram
    // overlap is real duplication). Methodology audit for the
    // q_dedup_3/5 parameter choices.
    Q("q_dedup_21_shingle_size",
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 30),
        |sh AS (SELECT k.k, doc_id, unnest(list_distinct(list_transform(
        |   range(0, len(ws) - (k.k - 1)),
        |   i -> list_aggregate(ws[(i + 1):(i + k.k)], 'string_agg', ' ')))) AS g
        | FROM docs, (SELECT unnest(range(1, 4)) AS k) k),
        |sz AS (SELECT k, doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1, 2),
        |inter AS (SELECT a.k, a.doc_id AS ida, b.doc_id AS idb, CAST(count(*) AS BIGINT) AS c
        | FROM sh a JOIN sh b ON a.k = b.k AND a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2, 3),
        |j AS (SELECT sa.k, sa.doc_id AS ida, sb.doc_id AS idb,
        |  CAST(floor(CAST(coalesce(i.c, 0) AS DOUBLE) / (sa.n + sb.n - coalesce(i.c, 0)) * 1000000 + 0.5) AS BIGINT) AS j6
        | FROM sz sa JOIN sz sb ON sa.k = sb.k AND sa.doc_id < sb.doc_id
        | LEFT JOIN inter i ON i.k = sa.k AND i.ida = sa.doc_id AND i.idb = sb.doc_id)
        |SELECT CAST(k AS BIGINT) AS shingle_k, CAST(count(*) AS BIGINT) AS n_pairs,
        | floor(CAST(sum(j6) AS DOUBLE) / count(*) / 1000000 * 1000000 + 0.5) / 1000000 AS mean_jaccard,
        | CAST(max(j6) AS BIGINT) AS max_j6
        |FROM j GROUP BY k ORDER BY shingle_k""".stripMargin) { (s, d) =>
      // All 30·29/2 pairs per k INCLUDING zero-overlap ones (the
      // left-join keeps them — dropping empty intersections would bias
      // the mean up); per-pair Jaccard quantizes to 1e-6 integers
      // before the mean. Bounded demo; the LSH family owns scale.
      val docs = Tables(s, d, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val ks = s.range(1, 4).select(col("id").as("k"))
      val sh = docs.crossJoin(broadcast(ks))
        .select(col("k"), col("doc_id"),
          explode(array_distinct(expr(
            "transform(sequence(0, size(ws) - k), i -> array_join(slice(ws, i + 1, k), ' '))")))
            .as("g"))
        .localCheckpoint()
      val sz = sh.groupBy("k", "doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("a")
        .join(sh.as("b"), col("a.k") === col("b.k") && col("a.g") === col("b.g")
          && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.k").as("ik"), col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .agg(count(lit(1)).as("c"))
      val j = sz.as("sa")
        .join(sz.as("sb"), col("sa.k") === col("sb.k") && col("sa.doc_id") < col("sb.doc_id"))
        .join(inter,
          col("ik") === col("sa.k") && col("ida") === col("sa.doc_id")
            && col("idb") === col("sb.doc_id"), "left_outer")
        .select(col("sa.k").as("k"),
          floor(coalesce(col("c"), lit(0L)).cast("double")
            / (col("sa.n") + col("sb.n") - coalesce(col("c"), lit(0L))) * 1000000 + 0.5)
            .cast("long").as("j6"))
      j.groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          (floor(sum("j6").cast("double") / count(lit(1)) / 1000000 * 1000000 + 0.5) / 1000000)
            .as("mean_jaccard"),
          max("j6").as("max_j6"))
        .select(col("k").cast("long").as("shingle_k"), col("n_pairs"), col("mean_jaccard"),
          col("max_j6"))
        .orderBy("shingle_k")
    },

    // Single-bin DFT over the first 64 PCM samples: which of bins 1–4
    // dominates each blob — the tone-detection shape (Goertzel) as a
    // pure dot product with PLAN-TIME quantized trig tables, the
    // declarative stand-in for a real FFT feature extractor.
    Q("q_mm_9_dft_bin", {
      val cosTab = for (k <- 1 to 4; n <- 0 until 64)
        yield math.floor(math.cos(2 * math.Pi * n * k / 64) * 1e6 + 0.5).toLong
      val sinTab = for (k <- 1 to 4; n <- 0 until 64)
        yield math.floor(math.sin(2 * math.Pi * n * k / 64) * 1e6 + 0.5).toLong
      s"""WITH tabs AS (SELECT [${cosTab.mkString(",")}] AS ct, [${sinTab.mkString(",")}] AS st),
         |px AS (SELECT doc_id, k.k, n.n,
         |  CAST(ascii(substring(text, (n.n % len(text)) + 1, 1)) - 128 AS BIGINT) AS s
         | FROM documents, (SELECT unnest(range(1, 5)) AS k) k, (SELECT unnest(range(0, 64)) AS n) n
         | WHERE doc_id < 50),
         |dft AS (SELECT doc_id, k,
         |  CAST(sum(s * (SELECT ct[(k - 1) * 64 + n + 1] FROM tabs)) AS BIGINT) AS sc,
         |  CAST(sum(s * (SELECT st[(k - 1) * 64 + n + 1] FROM tabs)) AS BIGINT) AS ss
         | FROM px GROUP BY 1, 2),
         |mag AS (SELECT doc_id, k, sc * sc + ss * ss AS m2,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY sc * sc + ss * ss DESC, k) AS rn
         | FROM dft)
         |SELECT doc_id, CAST(k AS BIGINT) AS dominant_bin,
         | floor(sqrt(CAST(m2 AS DOUBLE)) / 1000000.0 * 100 + 0.5) / 100 AS magnitude
         |FROM mag WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // The 4×64 cos/sin tables are computed ONCE at plan-build time on
      // the driver and embedded as integer literals in BOTH plans, so
      // Σ s·cos and Σ s·sin are exact integer dot products; the
      // dominant bin is an integer argmax (rn on m2 DESC, k). One
      // explode (×256 rows/blob) + map-side-combinable aggregate.
      val cosTab = for (k <- 1 to 4; n <- 0 until 64)
        yield math.floor(math.cos(2 * math.Pi * n * k / 64) * 1e6 + 0.5).toLong
      val sinTab = for (k <- 1 to 4; n <- 0 until 64)
        yield math.floor(math.sin(2 * math.Pi * n * k / 64) * 1e6 + 0.5).toLong
      val ct = typedLit(cosTab)
      val st = typedLit(sinTab)
      val px = Tables(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text"),
          explode(expr("flatten(transform(sequence(1, 4), k -> transform(sequence(0, 63), n -> struct(k AS k, n AS n))))"))
            .as("kn"))
        .select(col("doc_id"), col("kn.k").as("k"), col("kn.n").as("n"),
          (expr("ascii(substring(text, (kn.n % length(text)) + 1, 1))") - 128).cast("long").as("s"))
      val dft = px
        .select(col("doc_id"), col("k"),
          (col("s") * element_at(ct, ((col("k") - 1) * 64 + col("n") + 1).cast("int"))).as("c_term"),
          (col("s") * element_at(st, ((col("k") - 1) * 64 + col("n") + 1).cast("int"))).as("s_term"))
        .groupBy("doc_id", "k")
        .agg(sum("c_term").as("sc"), sum("s_term").as("ss"))
      val mag = dft.select(col("doc_id"), col("k"),
          (col("sc") * col("sc") + col("ss") * col("ss")).as("m2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("m2").desc, col("k"))))
        .filter(col("rn") === 1)
      mag.select(col("doc_id"), col("k").cast("long").as("dominant_bin"),
          (floor(sqrt(col("m2").cast("double")) / 1000000.0 * 100 + 0.5) / 100).as("magnitude"))
        .orderBy("doc_id")
    }
  )
}
