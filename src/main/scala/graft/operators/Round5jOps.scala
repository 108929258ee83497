package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 continuation (SURVEY §2.11s): growth accounting, MinHash
  * accuracy curves, template n-gram detection, dedup mass accounting,
  * SLO burn tracking, hour-of-week profiling, and embedding label
  * separation.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-pair/per-term floats floor-quantized to integers BEFORE cross-row
  * sums; one fixed-shape IEEE expression per emitted float, mirrored
  * verbatim in DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5jOps {

  private val duckShingles2: String =
    "list_distinct(list_transform(range(0, len(string_split(text, ' ')) - 1), i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2]))"
  private val duckShingleHashes: String =
    s"list_transform($duckShingles2, t -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))), (a, c) -> (a * 31 + c) % 1000000007))"
  private val duckShingleSig: String =
    s"list_transform(range(0, 16), i -> list_min(list_transform($duckShingleHashes, h -> (h * (i * 2 + 3) + (i * 5 + 7)) % 1000000007)))"

  val all: Seq[Q] = Seq(

    Q("q_stream_23_lifecycle",
      """WITH uw AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, min(day) AS first_day FROM uw GROUP BY 1),
        |lagw AS (SELECT user_id, day, lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_active FROM uw),
        |cls AS (SELECT l.user_id, l.day,
        |  CASE WHEN l.day = f.first_day THEN 'new'
        |       WHEN l.prev_active = l.day - 1 THEN 'retained'
        |       ELSE 'resurrected' END AS status
        | FROM lagw l JOIN f ON l.user_id = f.user_id),
        |act AS (SELECT day, CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        | FROM cls GROUP BY 1),
        |churn AS (SELECT a.day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
        | FROM uw a LEFT JOIN uw b ON a.user_id = b.user_id AND b.day = a.day + 1
        | WHERE b.user_id IS NULL GROUP BY 1),
        |wk AS (SELECT DISTINCT day FROM uw)
        |SELECT CAST(wk.day AS BIGINT) AS day, act.n_new, act.n_retained, act.n_resurrected,
        | CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned
        |FROM wk JOIN act ON wk.day = act.day LEFT JOIN churn ch ON wk.day = ch.day
        |ORDER BY day""".stripMargin) { (s, d) =>
      // Growth accounting of daily purchase activity: each active day a
      // buyer is NEW (first purchase day), RETAINED (also bought
      // yesterday), or RESURRECTED (bought before, but not yesterday);
      // CHURNED(d) counts yesterday's buyers who didn't return today —
      // the canonical DAU decomposition (new + retained + resurrected −
      // churned = ΔDAU) a growth team reads daily, one level deeper
      // than q_stream_20's DAU/WAU totals. Classification is one lag
      // window over the distinct (user, day) table + a broadcast
      // first-day table; churn is an anti-join shape on the shifted
      // day. All counts exact. Scale: the (user, day) table is the
      // corpus collapsed; windows partition per user.
      graft.streaming.Streams.lifecycleFinish(
        Tables(s, d, "events").filter(col("event_type") === "purchase")
          .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
          .distinct())
    },

    Q("q_dedup_16_minhash_width",
      s"""WITH s AS (SELECT doc_id, $duckShingles2 AS ts, $duckShingleSig AS sig FROM documents WHERE doc_id < 40),
         |pr AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |  CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
         |  CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni,
         |  a.sig AS sa, b.sig AS sb
         | FROM s a JOIN s b ON a.doc_id < b.doc_id),
         |est AS (SELECT da, db, inter, uni, k,
         |  CAST(len(list_filter(range(0, k), i -> sa[i + 1] = sb[i + 1])) AS BIGINT) AS m
         | FROM pr, (SELECT unnest([4, 8, 16]) AS k)),
         |err AS (SELECT k, CAST(abs(CAST(floor(CAST(m AS DOUBLE) / k * 1000000 + 0.5) AS BIGINT)
         |   - CAST(floor(CAST(inter AS DOUBLE) / uni * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS ae6
         | FROM est)
         |SELECT CAST(k AS BIGINT) AS sig_width, CAST(count(*) AS BIGINT) AS n_pairs,
         | floor(CAST(sum(ae6) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mae
         |FROM err GROUP BY 1 ORDER BY sig_width""".stripMargin) { (s, d) =>
      // MinHash accuracy curve: mean absolute error of the Jaccard
      // estimate against the TRUE bigram-shingle Jaccard at signature
      // widths 4 / 8 / 16 (each width is a PREFIX of the same 16-hash
      // signature, so the curve isolates width, not hash choice) — the
      // "how many hashes do I pay for" companion to q_dedup_14's
      // band-shape sweep (width buys estimator variance ∝ 1/k; bands
      // spend it on a threshold). Per-pair estimate and truth are both
      // quantized to 1e-6 integers BEFORE the absolute difference and
      // its sum — order-free exact statistics. Bounded doc_id<40
      // eval-set pattern (true Jaccard needs the real intersection;
      // stated). Bigram shingles, not unigram sets: this fixture's
      // 31-word vocabulary makes unigram signatures collapse to
      // estimate≡1 at every width (measured — no curve to read).
      val sub = Tables(s, d, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"),
          TextFunctions.shingles(col("text"), 2).as("ts"),
          TextFunctions.shingleMinhashSignature(col("text"), 2, 16).as("sig"))
        .localCheckpoint()
      val b = sub.select(col("doc_id").as("db"), col("ts").as("tsb"), col("sig").as("sb"))
      val inter = size(array_intersect(col("ts"), col("tsb"))).cast("long")
      val pr = sub.join(b, col("doc_id") < col("db"))
        .select(col("doc_id").as("da"), col("db"), inter.as("inter"),
          (size(col("ts")) + size(col("tsb")) - inter).cast("long").as("uni"),
          col("sig").as("sa"), col("sb"))
      val ks = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(4), org.apache.spark.sql.Row(8), org.apache.spark.sql.Row(16)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))))
      val est = pr.crossJoin(broadcast(ks))
        .select(col("da"), col("db"), col("inter"), col("uni"), col("k"),
          size(filter(sequence(lit(0), col("k") - 1),
            i => element_at(col("sa"), i + 1) === element_at(col("sb"), i + 1)))
            .cast("long").as("m"))
      val err = est.select(col("k"),
        abs(floor(col("m").cast("double") / col("k") * 1000000L + 0.5).cast("long")
          - floor(col("inter").cast("double") / col("uni") * 1000000L + 0.5).cast("long")).as("ae6"))
      err.groupBy(col("k").cast("long").as("sig_width"))
        .agg(count(lit(1)).as("n_pairs"),
          (floor(sum("ae6").cast("double") / count(lit(1)) + 0.5) / 1000000L).as("mae"))
        .orderBy("sig_width")
    },

    Q("q_text_41_template_ngrams",
      """WITH sh AS (SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(range(0, len(string_split(text, ' ')) - 2), i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2] || ' ' || string_split(text, ' ')[i + 3]))) AS g FROM documents),
        |df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |r AS (SELECT g, df, CAST(row_number() OVER (ORDER BY df DESC, g) AS BIGINT) AS rnk FROM df)
        |SELECT r.rnk, r.g AS trigram, r.df,
        | floor(CAST(r.df AS DOUBLE) / n.nd * 1000000 + 0.5) / 1000000 AS doc_share
        |FROM r, n WHERE r.rnk <= 10 ORDER BY r.rnk""".stripMargin) { (s, d) =>
      // Template n-gram detection: the 10 trigram WORD sequences
      // appearing in the most documents — repeated multi-token
      // sequences across documents are boilerplate/template signatures
      // (cookie banners, footers, generation artifacts), invisible to
      // token-level stats (q_text_31) and to within-doc repetition
      // (q_text_17): the signal is CROSS-document sequence df. Exact
      // distinct (doc, trigram) counts; deterministic (df DESC, gram)
      // rank. Scale: the shingle explode is a projection; df is a
      // shingle-keyed agg (shingle vocab is corpus-bounded); top-10
      // ranks on the vocab table.
      val sh = Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), explode(TextFunctions.shinglesOf(col("tk"), 3)).as("g"))
        .distinct()
      val df = sh.groupBy("g").agg(count(lit(1)).as("df"))
      val nd = Tables(s, d, "documents").agg(count(lit(1)).as("nd"))
      // TakeOrdered top-10 over the shingle vocab, then the rank
      // window over just 10 rows
      df.orderBy(col("df").desc, col("g")).limit(10)
        .withColumn("rnk", row_number().over(Window.orderBy(col("df").desc, col("g"))).cast("long"))
        .crossJoin(broadcast(nd))
        .select(col("rnk"), col("g").as("trigram"), col("df"),
          round(col("df").cast("double") / col("nd"), 6).as("doc_share"))
        .orderBy("rnk")
    },

    Q("q_text_42_dedup_impact",
      """WITH t AS (SELECT doc_id, lang, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok FROM documents),
        |ex AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY md5(lower(trim(text)))),
        |s1 AS (SELECT t.* FROM t JOIN ex ON t.doc_id = ex.doc_id),
        |nr AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))),
        |s2 AS (SELECT s1.* FROM s1 JOIN nr ON s1.doc_id = nr.doc_id),
        |g AS (SELECT lang,
        |  CAST(count(*) AS BIGINT) AS docs_in, CAST(sum(ntok) AS BIGINT) AS toks_in FROM t GROUP BY 1),
        |g1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS docs_exact, CAST(sum(ntok) AS BIGINT) AS toks_exact FROM s1 GROUP BY 1),
        |g2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS docs_near, CAST(sum(ntok) AS BIGINT) AS toks_near FROM s2 GROUP BY 1)
        |SELECT g.lang, g.docs_in, g.toks_in,
        | COALESCE(g1.docs_exact, 0) AS docs_exact, COALESCE(g2.docs_near, 0) AS docs_near,
        | COALESCE(g2.toks_near, 0) AS toks_near,
        | floor((CAST(g.toks_in AS DOUBLE) - COALESCE(g2.toks_near, 0)) / g.toks_in * 1000000 + 0.5) / 1000000 AS token_mass_removed
        |FROM g LEFT JOIN g1 ON g.lang = g1.lang LEFT JOIN g2 ON g.lang = g2.lang
        |ORDER BY g.lang""".stripMargin) { (s, d) =>
      // Dedup mass accounting per language: documents and TOKEN MASS
      // surviving exact then token-set near dedup — the budget view
      // that turns dedup from a row count into a training-token cost
      // ("near dedup deletes X% of German tokens" is what actually
      // changes a mixture weight; q_pipe_2 counts docs corpus-wide,
      // this prices tokens per slice). Survivors are min-doc_id-per-
      // digest (the house rule); token sums are exact BIGINTs. Scale:
      // two digest-keyed aggs + three language-keyed aggs; text never
      // shuffles, digests do.
      val t = Tables(s, d, "documents").select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
        .localCheckpoint()
      val ex = t.groupBy(md5(lower(trim(col("text"))))).agg(min("doc_id").as("doc_id"))
      val s1 = t.join(ex.select("doc_id"), "doc_id")
      val nr = s1.groupBy(
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))))
        .agg(min("doc_id").as("doc_id"))
      val s2 = s1.join(nr.select("doc_id"), "doc_id")
      val g = t.groupBy("lang").agg(count(lit(1)).as("docs_in"), sum("ntok").as("toks_in"))
      val g1 = s1.groupBy("lang").agg(count(lit(1)).as("docs_exact"), sum("ntok").as("toks_exact"))
      val g2 = s2.groupBy("lang").agg(count(lit(1)).as("docs_near"), sum("ntok").as("toks_near"))
      g.join(g1, Seq("lang"), "left").join(g2, Seq("lang"), "left")
        .select(col("lang"), col("docs_in"), col("toks_in"),
          coalesce(col("docs_exact"), lit(0L)).as("docs_exact"),
          coalesce(col("docs_near"), lit(0L)).as("docs_near"),
          coalesce(col("toks_near"), lit(0L)).as("toks_near"),
          round((col("toks_in").cast("double") - coalesce(col("toks_near"), lit(0L)))
            / col("toks_in"), 6).as("token_mass_removed"))
        .orderBy("lang")
    },

    Q("q_stream_24_error_budget",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
        | FROM events GROUP BY 1),
        |c AS (SELECT day, n, e,
        |  CAST(sum(e) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ce,
        |  CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn FROM d)
        |SELECT CAST(day AS BIGINT) AS day, n, e,
        | floor(CAST(e AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS error_rate,
        | CAST(CASE WHEN e * 5 > n THEN 1 ELSE 0 END AS BIGINT) AS over_budget,
        | floor(CAST(ce AS DOUBLE) / cn / 0.2 * 1000000 + 0.5) / 1000000 AS budget_burn
        |FROM c ORDER BY day""".stripMargin) { (s, d) =>
      // SLO error-budget tracking: daily error share against a 20%
      // budget (this fixture's error class is one of five uniform event
      // types — a real deployment sets its own), the over-budget flag
      // as an EXACT integer cross-multiplication (e·5 > n — no float
      // threshold), and the cumulative burn ratio (cumulative error
      // share / budget; >1 ⇒ the period's budget is spent) — the SRE
      // view over the stream that q_dq_10's z-scores don't price.
      // Prefix sums are exact BIGINTs over the day table. Scale:
      // day-collapsed windows, repartitionByRange at 100 TB.
      val dd = Tables(s, d, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).cast("long").as("e"))
      val prefix = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      val c = dd.withColumn("ce", sum("e").over(prefix))
        .withColumn("cn", sum("n").over(prefix))
      c.select(col("day").cast("long").as("day"), col("n"), col("e"),
          round(col("e").cast("double") / col("n"), 6).as("error_rate"),
          when(col("e") * 5 > col("n"), 1L).otherwise(0L).as("over_budget"),
          round(col("ce").cast("double") / col("cn") / 0.2, 6).as("budget_burn"))
        .orderBy("day")
    },

    Q("q_time_11_hour_of_week",
      """WITH h AS (SELECT ((epoch_us(ts) // 86400000000 + 4) % 7) * 24 + (epoch_us(ts) // 3600000000) % 24 AS how
        | FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT how, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1),
        |t AS (SELECT how, n, CAST(sum(n) OVER () AS BIGINT) AS tot, CAST(count(*) OVER () AS BIGINT) AS nb FROM g)
        |SELECT CAST(how AS BIGINT) AS hour_of_week, n,
        | floor(CAST(n AS DOUBLE) / tot * 1000000 + 0.5) / 1000000 AS share,
        | floor(CAST(n AS DOUBLE) / (CAST(tot AS DOUBLE) / nb) * 10000 + 0.5) / 10000 AS vs_mean
        |FROM t ORDER BY hour_of_week""".stripMargin) { (s, d) =>
      // Hour-of-week purchase profile (0 = Sunday 00:00 UTC): count,
      // share, and ratio to the mean occupied bucket — the 168-cell
      // seasonality grid underneath q_time_6's day-of-week ANOVA (the
      // grid is what capacity planning and send-time optimization
      // actually read; the ANOVA says whether its structure is real).
      // Day-of-week uses the same (epoch_day+4) mod 7 convention as
      // q_stat_16 (no dialect dayofweek). Exact counts; two IEEE
      // ratios. Scale: one map-side 168-key agg.
      val how = ((expr("unix_micros(ts) div 86400000000") + 4) % 7) * 24 +
        expr("(unix_micros(ts) div 3600000000) % 24")
      val g = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(how.as("how")).agg(count(lit(1)).as("n"))
      val t = g.withColumn("tot", sum("n").over(Window.partitionBy()))
        .withColumn("nb", count(lit(1)).over(Window.partitionBy()))
      t.select(col("how").cast("long").as("hour_of_week"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("share"),
          round(col("n").cast("double") / (col("tot").cast("double") / col("nb")), 4).as("vs_mean"))
        .orderBy("hour_of_week")
    },

    Q("q_sim_23_label_separation",
      s"""WITH s AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200),
         |pr AS (SELECT a.label = b.label AS intra,
         |  CAST(floor((${VectorFunctions.Duck.cosine("a.embedding", "b.embedding")}) * 1000000 + 0.5) AS BIGINT) AS cq
         | FROM s a JOIN s b ON a.vec_id < b.vec_id),
         |g AS (SELECT intra, CAST(count(*) AS BIGINT) AS n, CAST(sum(cq) AS BIGINT) AS sq FROM pr GROUP BY 1),
         |p AS (SELECT
         |  max(CASE WHEN intra THEN n END) AS ni, max(CASE WHEN intra THEN sq END) AS si,
         |  max(CASE WHEN NOT intra THEN n END) AS nx, max(CASE WHEN NOT intra THEN sq END) AS sx
         | FROM g)
         |SELECT ni AS n_intra_pairs, nx AS n_inter_pairs,
         | floor(CAST(si AS DOUBLE) / ni + 0.5) / 1000000 AS mean_intra_cosine,
         | floor(CAST(sx AS DOUBLE) / nx + 0.5) / 1000000 AS mean_inter_cosine,
         | floor((CAST(si AS DOUBLE) / ni - CAST(sx AS DOUBLE) / nx) + 0.5) / 1000000 AS separation_gap
         |FROM p""".stripMargin) { (s, d) =>
      // Embedding label separation: mean cosine within labels vs across
      // labels on the bounded 200-vector slice, and the gap — the
      // one-number "is there geometric label signal at all" screen that
      // runs before the costlier silhouette (q_sim_17) or LOO-kNN
      // (q_sim_21) evaluations (gap ≈ 0 ⇒ don't bother). Per-pair
      // cosines (fixed left-fold VectorFunctions form) are quantized to
      // 1e-6 integers BEFORE the group sums, so both means are
      // exact-integer statistics. Same constant-bounded eval-set
      // pattern as q_sim_21 (stated). Scale: 200×199/2 pairs at any SF.
      val sub = Tables(s, d, "embeddings").filter(col("vec_id") < 200)
        .select(col("vec_id"), col("label"), col("embedding")).localCheckpoint()
      val b = sub.select(col("vec_id").as("vb"), col("label").as("lb"), col("embedding").as("eb"))
      val pr = sub.join(broadcast(b), col("vec_id") < col("vb"))
        .select((col("label") === col("lb")).as("intra"),
          floor(VectorFunctions.cosine(col("embedding"), col("eb")) * 1000000L + 0.5)
            .cast("long").as("cq"))
      val g = pr.groupBy("intra").agg(count(lit(1)).as("n"), sum("cq").cast("long").as("sq"))
      val p = g.agg(
        max(when(col("intra"), col("n"))).as("ni"), max(when(col("intra"), col("sq"))).as("si"),
        max(when(!col("intra"), col("n"))).as("nx"), max(when(!col("intra"), col("sq"))).as("sx"))
      p.select(col("ni").as("n_intra_pairs"), col("nx").as("n_inter_pairs"),
        (floor(col("si").cast("double") / col("ni") + 0.5) / 1000000L).as("mean_intra_cosine"),
        (floor(col("sx").cast("double") / col("nx") + 0.5) / 1000000L).as("mean_inter_cosine"),
        (floor(col("si").cast("double") / col("ni") - col("sx").cast("double") / col("nx") + 0.5) / 1000000L)
          .as("separation_gap"))
    }
  )
}
