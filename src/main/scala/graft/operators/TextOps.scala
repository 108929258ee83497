package graft.operators

import graft.Q
import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num.round

/** §2.9 (text half) + training-data-pipeline text operators: token stats,
  * TF top-k, language heuristics, quality scoring, fingerprinting, and the
  * dedup family (exact, token-set, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale notes:
  *  - Exact dedup = hash-groupBy on a digest of the normalized text: one
  *    shuffle keyed by digest, no text comparison — the only exact-dedup
  *    shape that works at 100 TB.
  *  - MinHash near-dedup shuffles O(n·bands) band keys, never the O(n²)
  *    pair space; candidate pairs only materialize inside a band bucket.
  *  - Pairwise operators (Jaccard) are demonstration-bounded by fixed
  *    doc_id cutoffs; the production path is the LSH route above.
  *  - All token hashing is modular arithmetic inside codegen (see
  *    TextFunctions) so the DuckDB oracle reproduces it exactly.
  */
object TextOps {

  /** DuckDB mirror of TextFunctions.charHash(c). */
  private def duckCharHash(c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($c, ''), ch -> CAST(ascii(ch) AS BIGINT))), (a, ch) -> (a * 31 + ch) % 1000000007)"

  /** DuckDB mirror of TextFunctions.tokenHashes(text). */
  private val duckTokenHashes: String =
    s"list_transform(list_distinct(string_split(text, ' ')), t -> ${duckCharHash("t")})"

  /** DuckDB mirror of TextFunctions.minhashSignature(text, 16). */
  private[operators] val duckMinhashSig: String =
    s"list_transform(range(0, 16), i -> list_min(list_transform($duckTokenHashes, h -> (h * (i * 2 + 3) + (i * 5 + 7)) % 1000000007)))"

  /** Shared CTE prefix (sigs + bands) of the LSH family oracles:
    * MinHash(16) signatures for doc_id<100, split into 4 bands × 4 rows,
    * each band keyed by an md5 digest. Mirror of `lshBandKeys` below.
    */
  private[operators] val duckLshBands: String =
    s"""sigs AS (
       | SELECT doc_id, $duckMinhashSig AS sig
       | FROM documents WHERE doc_id < 100),
       |bands AS (
       | SELECT doc_id, j, md5(array_to_string(list_transform(list_slice(sig, j * 4 + 1, j * 4 + 4), x -> CAST(x AS VARCHAR)), '-')) AS band_key
       | FROM sigs, (SELECT unnest(range(0, 4)) AS j))""".stripMargin

  /** (doc_id, j, band_key) LSH band keys: MinHash(16) signature sliced
    * into 4 bands of 4 rows, md5-digested. Docs agreeing on ≥1 band key
    * are near-dup candidates. Per-row computation (no shuffle) — the
    * band-key groupBy/join that consumers do is the only shuffle.
    */
  private[graft] def lshBandKeys(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), minhashSignature(col(textCol), 16).as("sig"))
      .select(col(idCol), explode(sequence(lit(0L), lit(3L))).as("j"), col("sig"))
      .select(col(idCol), col("j"),
        md5(concat_ws("-", transform(slice(col("sig"), (col("j") * 4 + 1).cast("int"), lit(4)), _.cast("string")))).as("band_key"))

  val all: Seq[Q] = Seq(

    Q("q_text_1_tokenstats",
      """SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
        | floor((count(*)::DOUBLE / count(DISTINCT doc_id)) * 10000 + 0.5) / 10000 AS avg_tokens,
        | count(DISTINCT token) AS vocab
        |FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang")
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          round(count(lit(1)).cast("double") / countDistinct(col("doc_id")), 4).as("avg_tokens"),
          countDistinct(col("token")).as("vocab"))
        .orderBy("lang")
    },

    Q("q_text_2_tf",
      """SELECT lang, token, cnt, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT lang, token, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rn
        | FROM (SELECT lang, token, count(*) AS cnt FROM
        |        (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        |       GROUP BY 1, 2)
        |) WHERE rn <= 10 ORDER BY lang, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token").asc)
      Tables(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("token"), col("cnt"), col("rn").cast("long").as("rn"))
        .orderBy("lang", "rn")
    },

    Q("q_text_3_langdist",
      """SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket, count(*) AS n_docs,
        | floor((avg(n_chars)) * 10000 + 0.5) / 10000 AS avg_chars
        |FROM documents GROUP BY 1, 2, 3 ORDER BY lang, source, len_bucket""".stripMargin) { (s, d) =>
      Tables(s, d, "documents")
        .groupBy(col("lang"), col("source"),
          floor(col("n_chars") / 100).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang", "source", "len_bucket")
    },

    Q("q_text_4_langid",
      """SELECT doc_id, lang, s_data, s_query, s_row,
        | CASE WHEN s_data >= s_query AND s_data >= s_row THEN 'cat_data'
        |  WHEN s_query >= s_row THEN 'cat_query' ELSE 'cat_row' END AS predicted
        |FROM (
        | SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('data', 'table', 'spark'))) AS BIGINT) AS s_data,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('query', 'filter', 'join'))) AS BIGINT) AS s_query,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('row', 'group', 'small'))) AS BIGINT) AS s_row
        | FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // n-gram/keyword language-ID heuristic: score per category = number
      // of marker-token occurrences; argmax with a fixed tie-break order.
      def score(c: org.apache.spark.sql.Column, markers: Seq[String]) =
        size(filter(tokens(c), t => t.isin(markers: _*))).cast("long")
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          score(col("text"), Seq("data", "table", "spark")).as("s_data"),
          score(col("text"), Seq("query", "filter", "join")).as("s_query"),
          score(col("text"), Seq("row", "group", "small")).as("s_row"))
        .withColumn("predicted",
          when(col("s_data") >= col("s_query") && col("s_data") >= col("s_row"), "cat_data")
            .when(col("s_query") >= col("s_row"), "cat_query")
            .otherwise("cat_row"))
        .orderBy("doc_id")
    },

    Q("q_text_5_quality",
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | floor((CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' '))) * 1000000 + 0.5) / 1000000 AS avg_tok_len,
        | CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'of', 'and', 'row', 'data'))) AS BIGINT) AS n_stop,
        | floor((least(CAST(1 AS DOUBLE), len(string_split(text, ' ')) / CAST(50 AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'of', 'and', 'row', 'data'))) AS DOUBLE) / len(string_split(text, ' ')))) * 1000000 + 0.5) / 1000000 AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Document quality scoring: length-normalized score damped by
      // stopword density — the usual cheap pre-filter before expensive
      // model-based scoring in a training-data pipeline.
      val ts = tokens(col("text"))
      val nTok = size(ts)
      val stop = Seq("the", "of", "and", "row", "data")
      val nStop = size(filter(ts, t => t.isin(stop: _*)))
      Tables(s, d, "documents")
        .select(col("doc_id"),
          nTok.cast("long").as("n_tokens"),
          round(length(regexp_replace(col("text"), " ", "")).cast("double") / nTok, 6).as("avg_tok_len"),
          nStop.cast("long").as("n_stop"),
          round(least(lit(1.0), nTok / 50.0) * (lit(1.0) - nStop.cast("double") / nTok), 6).as("quality"))
        .orderBy("doc_id")
    },

    Q("q_text_6_tokencount",
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS bpe_ish_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Token counting two ways: whitespace split and a BPE-ish greedy
      // regex chunker (≤4-char pieces), both codegen'd per-row.
      Tables(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).cast("long").as("bpe_ish_tokens"),
          length(col("text")).cast("long").as("n_chars_measured"))
        .orderBy("doc_id")
    },

    Q("q_text_7_fingerprint",
      s"""SELECT doc_id, md5(text) AS md5_fp,
         | ${duckCharHash("text")} AS rolling_fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Content fingerprinting: cryptographic digest + a polynomial rolling
      // hash (the shift-add hash used by rsync/Rabin-style chunkers).
      Tables(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("md5_fp"),
          charHash(col("text")).as("rolling_fp"))
        .orderBy("doc_id")
    },

    Q("q_text_9_redact",
      """SELECT doc_id,
        | md5(regexp_replace(regexp_replace(text, 'user|purchase|error', '[REDACTED]', 'g'), '[0-9]', '#', 'g')) AS redacted_md5,
        | CAST(len(list_filter(string_split(text, ' '), t -> t IN ('user', 'purchase', 'error'))) AS BIGINT) AS n_denied
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Training-data scrubbing: denylist-term redaction + digit masking
      // (the PII-removal shape), emitted as a digest plus the redaction
      // count. Pure per-row regex — codegen'd, no shuffle.
      Tables(s, d, "documents").select(
        col("doc_id"),
        md5(regexp_replace(regexp_replace(col("text"), "user|purchase|error", "[REDACTED]"), "[0-9]", "#")).as("redacted_md5"),
        size(filter(tokens(col("text")), t => t.isin("user", "purchase", "error"))).cast("long").as("n_denied"))
        .orderBy("doc_id")
    },

    Q("q_text_10_vocab_prune",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |SELECT tok.doc_id,
        | count(*) FILTER (WHERE df.df >= 100) AS n_kept,
        | count(*) FILTER (WHERE df.df < 100) AS n_dropped
        |FROM tok JOIN df ON tok.token = df.token
        |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin) { (s, d) =>
      // Frequency-based vocab pruning: token occurrences classified by
      // corpus document frequency (df ≥ 100 kept). The df table is
      // vocab-sized → broadcast; tokens never leave their doc partition.
      val tok = Tables(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val dfreq = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
      tok.join(broadcast(dfreq), "token")
        .groupBy("doc_id")
        .agg(
          count(when(col("df") >= 100, 1)).as("n_kept"),
          count(when(col("df") < 100, 1)).as("n_dropped"))
        .orderBy("doc_id")
    },

    Q("q_dedup_1_exact",
      """SELECT md5(lower(trim(text))) AS text_key, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_key""".stripMargin) { (s, d) =>
      // Exact dedup: digest-keyed groupBy; survivor = min doc_id.
      graft.api.Pipelines.dedupExact(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("text_key")
    },

    Q("q_dedup_2_near",
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS set_key,
        | min(doc_id) AS keep_id, count(*) AS n_members
        |FROM documents
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY set_key""".stripMargin) { (s, d) =>
      // Order-insensitive near-dup: identical distinct-token SET.
      Tables(s, d, "documents")
        .groupBy(md5(concat_ws(" ", sort_array(tokenSet(col("text"))))).as("set_key"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
        .orderBy("set_key")
    },

    Q("q_dedup_3_minhash_lsh",
      s"""WITH $duckLshBands
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
         |FROM bands a JOIN bands b ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // MinHash(k=16) + LSH(4 bands × 4 rows): candidate pairs are doc
      // pairs agreeing on ≥1 band. Bounded to doc_id<100 here; at scale
      // the band join is the whole point — shuffle keys are (band, hash),
      // never pairs.
      graft.api.Pipelines.minhashCandidates(
          Tables(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("n_shared_bands"))
        .orderBy("doc_a", "doc_b")
    },

    Q("q_dedup_4_simhash",
      s"""WITH hs AS (SELECT doc_id, $duckTokenHashes AS hl FROM documents)
         |SELECT doc_id,
         | list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 30)), (acc, j) -> acc +
         |  CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), hl), (a, h) -> a + (h // CAST(pow(2, j) AS BIGINT)) % 2 * 2 - 1) > 0
         |   THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS simhash
         |FROM hs ORDER BY doc_id""".stripMargin) { (s, d) =>
      // 30-bit SimHash per document — near-dup docs land at small Hamming
      // distance; identical token sets collide exactly.
      Tables(s, d, "documents")
        .select(col("doc_id"), simhash32(col("text")).as("simhash"))
        .orderBy("doc_id")
    },

    Q("q_dedup_6_minhash_estimate",
      s"""WITH sigs AS (
         | SELECT doc_id, $duckMinhashSig AS sig,
         |  list_distinct(string_split(text, ' ')) AS toks
         | FROM documents WHERE doc_id < 30)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | floor((len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) / CAST(16 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS est_jaccard,
         | floor((CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(list_distinct(a.toks || b.toks))) * 1000000 + 0.5) / 1000000 AS exact_jaccard
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // MinHash-estimated vs exact Jaccard side by side: the sketch
      // accuracy a dedup-threshold decision is based on, as data. At
      // scale only signatures (128 B/doc) are pairwise-compared inside
      // LSH candidate buckets — never the token sets.
      val sigs = Tables(s, d, "documents")
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), minhashSignature(col("text"), 16).as("sig"),
          tokenSet(col("text")).as("toks"))
      val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("toks").as("toks_a"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("toks").as("toks_b"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(size(filter(sequence(lit(1), lit(16)),
            i => element_at(col("sig_a"), i) === element_at(col("sig_b"), i)))
            / lit(16.0), 6).as("est_jaccard"),
          round(size(array_intersect(col("toks_a"), col("toks_b"))).cast("double")
            / size(array_distinct(concat(col("toks_a"), col("toks_b")))), 6).as("exact_jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    Q("q_dedup_5_ngram_jaccard",
      """WITH sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS shingles
        | FROM documents WHERE doc_id < 40)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | floor((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |   / len(list_distinct(a.shingles || b.shingles))) * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      // Pairwise 3-gram Jaccard, demonstration-bounded (40 docs → 780
      // pairs). Production path for this predicate is q_dedup_3's LSH.
      val sh = Tables(s, d, "documents")
        .filter(col("doc_id") < 40)
        .select(col("doc_id"), tokenShingles(col("text"), 3).as("shingles"))
      val a = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
      val b = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
      a.join(b, col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
            / size(array_distinct(concat(col("sh_a"), col("sh_b")))), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    Q("q_text_12_contamination",
      s"""WITH bench AS (
         | SELECT DISTINCT unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
         |   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
         | FROM documents WHERE doc_id < 5),
         |docsh AS (
         | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
         |   i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) AS sh
         | FROM documents WHERE doc_id >= 5),
         |tot AS (SELECT doc_id, count(*) AS n_sh FROM docsh GROUP BY doc_id),
         |hit AS (SELECT d.doc_id, count(*) AS n_hit FROM docsh d JOIN bench b ON d.sh = b.sh GROUP BY d.doc_id)
         |SELECT tot.doc_id, tot.n_sh, coalesce(hit.n_hit, 0) AS n_hit,
         | floor((CAST(coalesce(hit.n_hit, 0) AS DOUBLE) / tot.n_sh) * 1000000 + 0.5) / 1000000 AS overlap,
         | CAST(coalesce(hit.n_hit, 0) AS DOUBLE) / tot.n_sh > 0.5 AS contaminated
         |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
         |ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
      // Benchmark decontamination: fraction of each training doc's
      // 3-gram shingles that appear in the held-out benchmark set
      // (doc_id<5 stands in for the eval suite). The benchmark shingle
      // set is tiny → broadcast semi-probe; each doc is scored in one
      // pass — the standard n-gram-overlap contamination screen run
      // before training, at any corpus size.
      val docs = Tables(s, d, "documents")
      graft.api.Pipelines.contaminationScreen(docs.filter(col("doc_id") >= 5), "doc_id", "text",
          docs.filter(col("doc_id") < 5))
        .orderBy("doc_id")
    },

    Q("q_text_13_split",
      """SELECT split, lang, count(*) AS n_docs FROM (
        | SELECT lang, CASE WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 100 < 80 THEN 'train'
        |  WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 100 < 90 THEN 'valid' ELSE 'test' END AS split
        | FROM documents)
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin) { (s, d) =>
      // Deterministic train/valid/test split (80/10/10) by multiplicative
      // hash of the stable id; no lookup table ever needed.
      graft.api.Pipelines.deterministicSplit(Tables(s, d, "documents"), "doc_id")
        .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("split", "lang")
    },

    Q("q_dq_5_class_weights",
      """SELECT label, count(*) AS n,
        | floor((CAST((SELECT count(*) FROM embeddings) AS DOUBLE) / (CAST((SELECT count(DISTINCT label) FROM embeddings) AS DOUBLE) * count(*))) * 1000000 + 0.5) / 1000000 AS weight
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      // Inverse-frequency class weights for loss reweighting on an
      // imbalanced label column.
      graft.api.Pipelines.classWeights(Tables(s, d, "embeddings"), "label")
        .orderBy("label")
    },

    Q.noOracle("q_text_11_bpe") { (s, d) =>
      // BPE tokenizer training (10 merges, min pair freq 2) over the
      // corpus tokens' character sequences — graft.functions.Bpe runs the
      // count→argmax→merge loop distributed, one collected row per round.
      // No SQL oracle (iterative greedy argmax); pinned by a hand-computed
      // unit test + the golden digest.
      import s.implicits._
      val toks = Tables(s, d, "documents").filter(col("doc_id") < 120)
        .select(explode(tokens(col("text"))).as("tok"))
        .select(split(col("tok"), "").as("syms"))
      graft.functions.Bpe.train(toks, 10)
        .toDF("rank", "left", "right", "freq")
        .select(col("rank").cast("long").as("rank"), col("left"), col("right"), col("freq"))
        .orderBy("rank")
    },

    Q("q_dedup_8_editdist",
      """SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey < 60 AND b.p_partkey < 60
        | AND levenshtein(a.p_name, b.p_name) <= 15
        |ORDER BY pk_a, pk_b""".stripMargin) { (s, d) =>
      // Edit-distance near-dup on short name strings (exact integer
      // metric — bit-identical across engines). Demonstration-bounded
      // all-pairs; the scale path blocks candidates first (LSH/length
      // bucketing) and only then pays the O(len²) DP per pair.
      val p = Tables(s, d, "part").filter(col("p_partkey") < 60)
      val a = p.select(col("p_partkey").as("pk_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("pk_b"), col("p_name").as("name_b"))
      a.join(b, col("pk_a") < col("pk_b"))
        .select(col("pk_a"), col("pk_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
        .filter(col("dist") <= 15)
        .orderBy("pk_a", "pk_b")
    },

    Q("q_dedup_7_lsh_cluster",
      s"""WITH RECURSIVE $duckLshBands,
         |pairs AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM bands a JOIN bands b ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         | SELECT doc_id, doc_id FROM documents WHERE doc_id < 100
         | UNION
         | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
         |SELECT doc_id, component, CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize
         |FROM comp ORDER BY doc_id""".stripMargin) { (s, d) =>
      // Near-dup CLUSTERING: connected components over the LSH candidate
      // graph — the step after candidate generation in a production dedup
      // pipeline (keep min doc_id per component, drop the rest). The
      // propagation loop is the one canonical converge-or-throw loop in
      // graft.api.Pipelines.connectedComponents.
      graft.api.Pipelines.nearDupComponents(
          Tables(s, d, "documents").filter(col("doc_id") < 100), "doc_id", "text")
        .orderBy("doc_id")
    },

    Q("q_dedup_10_eval",
      s"""WITH $duckLshBands,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |ts AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS s FROM documents WHERE doc_id < 100),
         |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM ts a JOIN ts b ON a.doc_id < b.doc_id
         |          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)/len(list_distinct(a.s || b.s)) >= 0.9),
         |m AS (SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |             CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
         |             CAST((SELECT count(*) FROM cand JOIN truth ON cand.doc_a = truth.doc_a AND cand.doc_b = truth.doc_b) AS BIGINT) AS tp)
         |SELECT n_truth, n_cand, tp,
         | floor(CAST(tp AS DOUBLE)/CAST(n_cand AS DOUBLE)*1000000+0.5)/1000000 AS precision,
         | floor(CAST(tp AS DOUBLE)/CAST(n_truth AS DOUBLE)*1000000+0.5)/1000000 AS recall,
         | floor(2*CAST(tp AS DOUBLE)/CAST(n_cand + n_truth AS DOUBLE)*1000000+0.5)/1000000 AS f1
         |FROM m""".stripMargin) { (s, d) =>
      // Dedup-screen evaluation: precision/recall/F1 of the MinHash+LSH
      // candidate generator against exact token-set Jaccard ≥ 0.9 ground
      // truth — the tuning gate for (bands × rows), exactly what
      // q_sim_11_recall is for the ANN index. High recall with low
      // precision is the DESIGNED operating point: LSH only generates
      // candidates; the exact verifier downstream removes false
      // positives, but false negatives are lost forever. Both bounded
      // pair sets are checkpointed (each feeds its own count AND the tp
      // join); the exact-truth side is demonstration-bounded to the same
      // 100 docs as q_dedup_3 — at 100 TB truth comes from a labeled
      // sample, never all-pairs.
      val docs = Tables(s, d, "documents").filter(col("doc_id") < 100)
      val bands = lshBandKeys(docs)
      val cand = bands.select(col("doc_id").as("doc_a"), col("j"), col("band_key")).as("a")
        .join(bands.select(col("doc_id").as("doc_b"), col("j").as("j2"), col("band_key").as("band_key2")),
          col("j") === col("j2") && col("band_key") === col("band_key2") && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .localCheckpoint()
      val ts = docs.select(col("doc_id"), tokenSet(col("text")).as("s"))
      val truth = ts.as("x").join(ts.as("y"), col("x.doc_id") < col("y.doc_id"))
        .filter(size(array_intersect(col("x.s"), col("y.s"))).cast("double")
          / size(array_distinct(concat(col("x.s"), col("y.s")))) >= 0.9)
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .localCheckpoint()
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val tp = cand.join(truth, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("tp"))
      nTruth.crossJoin(nCand).crossJoin(tp)
        .select(col("n_truth"), col("n_cand"), col("tp"),
          (floor(col("tp").cast("double") / col("n_cand").cast("double") * 1000000 + 0.5) / 1000000).as("precision"),
          (floor(col("tp").cast("double") / col("n_truth").cast("double") * 1000000 + 0.5) / 1000000).as("recall"),
          (floor(lit(2) * col("tp").cast("double") / (col("n_cand") + col("n_truth")).cast("double") * 1000000 + 0.5) / 1000000).as("f1"))
    }
  )
}
