package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bc): dedup stratification and
  * normalization ladders, plus three statistics additions — Cohen's
  * kappa between independent quality raters, a hash-permutation test,
  * and the Breusch–Pagan heteroscedasticity screen.
  *
  * Determinism discipline (§2.12): dedup keys are exact strings (sorted
  * token bags via array_sort — ASCII token vocabulary, so both engines'
  * binary string orderings agree); permutation groups derive from the
  * engine-portable multiplicative hash (q_scan_13's function — NO
  * engine RNG anywhere); residuals quantize to integers BEFORE any
  * squared sum so every moment is an exact BIGINT; ratios quantize 1e-6
  * at emission.
  */
object Round7cOps {

  private val P = 1000000007L

  val all: Seq[Q] = Seq(

    // Exact-dup incidence by length quartile: are short or long
    // documents the duplicated ones? Drives whether a pipeline dedups
    // before or after length filtering (q_pipe_6's stage-order question
    // needs exactly this interaction curve as input).
    Q("q_dedup_28_length_strata",
      """WITH q AS (SELECT text, n_chars,
        |  ntile(4) OVER (ORDER BY n_chars, doc_id) AS quartile FROM documents),
        |g AS (SELECT quartile, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        | FROM q GROUP BY 1)
        |SELECT CAST(quartile AS BIGINT) AS quartile, n_docs, n_distinct,
        | CAST(n_docs - n_distinct AS BIGINT) AS n_dup_docs,
        | floor(CAST(n_docs - n_distinct AS DOUBLE) / n_docs * 1000000 + 0.5) / 1000000 AS dup_ratio,
        | min_chars, max_chars
        |FROM g ORDER BY quartile""".stripMargin) { (s, d) =>
      // ntile over the (n_chars, doc_id) total order is identical on
      // both engines, computed as exactGlobalRank + ntileOfRank —
      // range-partitioned, never a one-task window over the corpus.
      val docs = Tables(s, d, "documents")
        .select(col("text"), col("n_chars"), col("doc_id"))
      val (nD, ranked) = graft.api.Pipelines
        .exactGlobalRank(docs, Seq(col("n_chars"), col("doc_id")), "__rk")
      ranked.select(col("text"), col("n_chars"),
        graft.api.Pipelines.ntileOfRank(col("__rk"), lit(nD), 4).as("quartile"))
        .groupBy("quartile")
        .agg(count(lit(1)).as("n_docs"), countDistinct("text").as("n_distinct"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .select(col("quartile").cast("long").as("quartile"), col("n_docs"),
          col("n_distinct"), (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
          Num.round((col("n_docs") - col("n_distinct")).cast("double")
            / col("n_docs"), 6).as("dup_ratio"),
          col("min_chars"), col("max_chars"))
        .orderBy("quartile")
    },

    // Bag-of-words dedup: canonicalize each document to its SORTED
    // token multiset and count how many "distinct" texts collapse —
    // the word-order-shuffle near-dup class that exact hashing
    // (q_dedup_1) is blind to and MinHash only catches probabilistically.
    Q("q_dedup_29_bag_of_words",
      """WITH c AS (SELECT text,
        |  array_to_string(list_sort(string_split(text, ' ')), ' ') AS bag
        | FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_exact,
        | CAST(count(DISTINCT bag) AS BIGINT) AS n_distinct_bag,
        | CAST(count(DISTINCT text) - count(DISTINCT bag) AS BIGINT) AS n_reorder_dups,
        | floor(CAST(count(DISTINCT text) - count(DISTINCT bag) AS DOUBLE)
        |   / count(DISTINCT text) * 1000000 + 0.5) / 1000000 AS reorder_share
        |FROM c""".stripMargin) { (s, d) =>
      // The canonical form is computed per row (sort of a ≤~110-token
      // array — cheap, no shuffle); both distinct counts ride one agg.
      // At 100 TB the bag becomes xxhash64(sorted join) — an 8-byte
      // distinct instead of a string one.
      Tables(s, d, "documents")
        .select(col("text"),
          array_join(array_sort(split(col("text"), " ")), " ").as("bag"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("text").as("n_distinct_exact"),
          countDistinct("bag").as("n_distinct_bag"),
          (countDistinct("text") - countDistinct("bag")).as("n_reorder_dups"),
          Num.round((countDistinct("text") - countDistinct("bag")).cast("double")
            / countDistinct("text"), 6).as("reorder_share"))
    },

    // Normalization-ladder dedup: distinct-document counts under
    // successively aggressive canonicalizations — raw text, stopword-
    // stripped, sorted bag, stripped+sorted. Each rung's delta is the
    // number of "new" duplicates that normalization level exposes; the
    // ladder is how a dedup pipeline chooses its canonical form.
    Q("q_dedup_30_normalized_ladder",
      """WITH c AS (SELECT text,
        |  array_to_string(list_filter(string_split(text, ' '), t -> t NOT IN ('a', 'the')), ' ') AS stripped,
        |  array_to_string(list_sort(string_split(text, ' ')), ' ') AS bag,
        |  array_to_string(list_sort(list_filter(string_split(text, ' '), t -> t NOT IN ('a', 'the'))), ' ') AS cboth
        | FROM documents),
        |u AS (SELECT 1 AS level, 'raw' AS form, CAST(count(DISTINCT text) AS BIGINT) AS n_distinct, CAST(count(*) AS BIGINT) AS n_docs FROM c
        | UNION ALL SELECT 2, 'stopword_stripped', CAST(count(DISTINCT stripped) AS BIGINT), CAST(count(*) AS BIGINT) FROM c
        | UNION ALL SELECT 3, 'sorted_bag', CAST(count(DISTINCT bag) AS BIGINT), CAST(count(*) AS BIGINT) FROM c
        | UNION ALL SELECT 4, 'stripped_sorted_bag', CAST(count(DISTINCT cboth) AS BIGINT), CAST(count(*) AS BIGINT) FROM c)
        |SELECT CAST(level AS BIGINT) AS level, form, n_distinct,
        | CAST(n_docs - n_distinct AS BIGINT) AS n_collapsed
        |FROM u ORDER BY level""".stripMargin) { (s, d) =>
      // All four canonical forms project in ONE scan; the four distinct
      // counts are independent aggregates of that narrow frame (the
      // union is over 1-row aggregates, not re-scans, via checkpoint).
      val stop = Seq("a", "the")
      val tk = split(col("text"), " ")
      val c = Tables(s, d, "documents").select(col("text"),
        array_join(filter(tk, t => !t.isin(stop: _*)), " ").as("stripped"),
        array_join(array_sort(tk), " ").as("bag"),
        array_join(array_sort(filter(tk, t => !t.isin(stop: _*))), " ").as("both"))
        .localCheckpoint()
      def rung(lv: Int, form: String, key: String) =
        c.agg(countDistinct(col(key)).as("n_distinct"), count(lit(1)).as("n_docs"))
          .select(lit(lv.toLong).as("level"), lit(form).as("form"),
            col("n_distinct"), (col("n_docs") - col("n_distinct")).as("n_collapsed"))
      rung(1, "raw", "text")
        .union(rung(2, "stopword_stripped", "stripped"))
        .union(rung(3, "sorted_bag", "bag"))
        .union(rung(4, "stripped_sorted_bag", "both"))
        .orderBy("level")
    },

    // Cohen's kappa between two independent cheap quality raters —
    // "short" (token count < 40) vs "low-diversity" (distinct tokens
    // < 22). Raw agreement overstates consensus when both raters flag
    // a minority class; kappa subtracts the chance floor. The
    // statistic layer over screens like q_text_57's rule matrix.
    Q("q_stat_33_kappa",
      """WITH f AS (SELECT
        |  CASE WHEN len(string_split(text, ' ')) < 40 THEN 1 ELSE 0 END AS a,
        |  CASE WHEN len(list_distinct(string_split(text, ' '))) < 22 THEN 1 ELSE 0 END AS b
        | FROM documents),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |  CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |  CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |  CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        | FROM f)
        |SELECT n, n11, n10, n01, n00,
        | floor(CAST(n11 + n00 AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS p_observed,
        | floor(((CAST(n11 + n00 AS DOUBLE) / n
        |   - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n)
        |  / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n))
        |  * 1000000 + 0.5) / 1000000 AS kappa
        |FROM m""".stripMargin) { (s, d) =>
      val tk = split(col("text"), " ")
      val f = Tables(s, d, "documents").select(
        when(size(tk) < 40, 1L).otherwise(0L).as("a"),
        when(size(array_distinct(tk)) < 22, 1L).otherwise(0L).as("b"))
      graft.api.Pipelines.cohenKappa(f, "a", "b")
    },

    // Hash-permutation test for the urgent-vs-other mean order value:
    // 20 deterministic pseudo-relabelings via the portable
    // multiplicative hash (label-shuffle approximation: each salt
    // splits ~50/50 instead of preserving group sizes — declared
    // semantics, exactly reproducible on both engines, unlike any
    // engine-RNG permutation). The pseudo p-value is the share of
    // salted splits at least as extreme as the observed one.
    Q("q_stat_34_hash_perm",
      """WITH o AS (SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urg
        | FROM orders),
        |obs AS (SELECT CAST(sum(CASE WHEN urg = 1 THEN cents END) AS DOUBLE) / sum(urg)
        |  - CAST(sum(CASE WHEN urg = 0 THEN cents END) AS DOUBLE) / sum(1 - urg) AS od FROM o),
        |p AS (SELECT k, cents,
        |  ((o_orderkey % 1000000007) * (2 * k + 3) % 1000000007) * 2654435761 % 1000000007 % 2 AS g
        | FROM o, unnest(range(1, 21)) AS t(k)),
        |pd AS (SELECT k,
        |  CAST(sum(CASE WHEN g = 1 THEN cents END) AS DOUBLE) / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
        |  - CAST(sum(CASE WHEN g = 0 THEN cents END) AS DOUBLE) / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS pdiff
        | FROM p GROUP BY k)
        |SELECT CAST(count(*) AS BIGINT) AS n_perms,
        | floor((SELECT od FROM obs) / 100 * 100 + 0.5) / 100 AS obs_diff,
        | CAST(sum(CASE WHEN abs(pdiff) >= abs((SELECT od FROM obs)) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        | floor((1 + CAST(sum(CASE WHEN abs(pdiff) >= abs((SELECT od FROM obs)) THEN 1 ELSE 0 END) AS DOUBLE))
        |   / (count(*) + 1) * 1000000 + 0.5) / 1000000 AS p_value,
        | floor(max(abs(pdiff)) / 100 * 100 + 0.5) / 100 AS max_perm_diff
        |FROM pd""".stripMargin) { (s, d) =>
      // The 20-salt fan-out is ONE pass of 42 conditional aggregates —
      // zero row growth (the r7 verdict retired the 20× explode this
      // scan used to ride): per salt only the g=1 side is aggregated;
      // the g=0 side is the exact integer complement (total − s_k,
      // n − c_k), so every mean is the same exact-cents/exact-count
      // double the exploded form produced, and the extremeness
      // comparison runs on identically-computed doubles.
      val o = Tables(s, d, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("urg"))
      def g(k: Int) =
        ((col("o_orderkey") % P) * (k * 2 + 3) % P) * 2654435761L % P % 2
      val aggCols = Seq(
        count(lit(1)).as("n"), sum("cents").as("tc"),
        sum(when(col("urg") === 1, col("cents"))).as("su"), sum("urg").as("nu")) ++
        (1 to 20).flatMap(k => Seq(
          sum(when(g(k) === 1, col("cents"))).as(s"s$k"),
          sum(when(g(k) === 1, 1L).otherwise(0L)).as(s"c$k")))
      val m = o.agg(aggCols.head, aggCols.tail: _*)
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val od = D(col("su")) / col("nu") -
        D(col("tc") - col("su")) / (col("n") - col("nu"))
      def pdiff(k: Int) = D(col(s"s$k")) / col(s"c$k") -
        D(col(s"tc") - col(s"s$k")) / (col("n") - col(s"c$k"))
      val nExtreme = (1 to 20)
        .map(k => when(abs(pdiff(k)) >= abs(od), 1L).otherwise(0L))
        .reduce(_ + _)
      m.select(lit(20L).as("n_perms"),
        Num.round(od / 100, 2).as("obs_diff"),
        nExtreme.as("n_extreme"),
        Num.round((nExtreme.cast("double") + 1) / lit(21L), 6).as("p_value"),
        Num.round(greatest((1 to 20).map(k => abs(pdiff(k))): _*) / 100, 2)
          .as("max_perm_diff"))
    },

    // Breusch–Pagan heteroscedasticity screen on the daily-order-count
    // trend: regress integer-quantized squared residuals back on the
    // day index; BP = n·R². A significant BP says the variance itself
    // trends — the q_stat_21 inference t-stats assume it doesn't.
    Q("q_stat_35_breusch_pagan",
      """WITH dly AS (SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS x,
        |  CAST(count(*) AS BIGINT) AS y FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(x * y) AS BIGINT) AS sxy FROM dly),
        |ab AS (SELECT k, (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
        |  CAST(sy AS DOUBLE) / k - (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |    / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * (CAST(sx AS DOUBLE) / k) AS a
        | FROM m),
        |z AS (SELECT x, CAST(floor(CAST(y AS DOUBLE) - a - b * x + 0.5) AS BIGINT) AS e
        | FROM dly, ab),
        |z2 AS (SELECT x, e * e AS w FROM z),
        |m2 AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(w) AS BIGINT) AS sw, CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(x * w) AS BIGINT) AS sxw, CAST(sum(w * w) AS BIGINT) AS sww FROM z2)
        |SELECT n AS n_days,
        | floor((CAST(n AS DOUBLE) * sxw - CAST(sx AS DOUBLE) * sw)
        |   * (CAST(n AS DOUBLE) * sxw - CAST(sx AS DOUBLE) * sw)
        |   / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(n AS DOUBLE) * sww - CAST(sw AS DOUBLE) * sw))
        |   * 1000000 + 0.5) / 1000000 AS r2_aux,
        | floor(CAST(n AS DOUBLE)
        |   * ((CAST(n AS DOUBLE) * sxw - CAST(sx AS DOUBLE) * sw)
        |     * (CAST(n AS DOUBLE) * sxw - CAST(sx AS DOUBLE) * sw)
        |     / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |        * (CAST(n AS DOUBLE) * sww - CAST(sw AS DOUBLE) * sw)))
        |   * 10000 + 0.5) / 10000 AS bp_stat
        |FROM m2""".stripMargin) { (s, d) =>
      // Residuals quantize to INTEGERS before squaring (daily-count
      // scale keeps e⁴ sums far inside BIGINT; a finer quantum would
      // overflow into DuckDB's HUGEINT and break the type contract).
      // Two windowless aggregate barriers, both 1-row broadcasts.
      val dly = Tables(s, d, "orders")
        .groupBy(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("x"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint()
      val m = dly.agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      def D(c: org.apache.spark.sql.Column) = c.cast("double")
      val ab = m.select(
        ((D(col("k")) * col("sxy") - D(col("sx")) * col("sy"))
          / (D(col("k")) * col("sxx") - D(col("sx")) * col("sx"))).as("b"),
        (D(col("sy")) / col("k")
          - (D(col("k")) * col("sxy") - D(col("sx")) * col("sy"))
          / (D(col("k")) * col("sxx") - D(col("sx")) * col("sx"))
          * (D(col("sx")) / col("k"))).as("a"))
      val z2 = dly.crossJoin(broadcast(ab))
        .select(col("x"),
          (floor(D(col("y")) - col("a") - col("b") * col("x") + 0.5).cast("long")).as("e"))
        .select(col("x"), (col("e") * col("e")).as("w"))
      val m2 = z2.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("w").as("sw"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("w")).as("sxw"),
        sum(col("w") * col("w")).as("sww"))
      val num = D(col("n")) * col("sxw") - D(col("sx")) * col("sw")
      val den = (D(col("n")) * col("sxx") - D(col("sx")) * col("sx")) *
        (D(col("n")) * col("sww") - D(col("sw")) * col("sw"))
      m2.select(col("n").as("n_days"),
        Num.round(num * num / den, 6).as("r2_aux"),
        Num.round(D(col("n")) * (num * num / den), 4).as("bp_stat"))
    }
  )
}
