package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 continuation (SURVEY §2.11w): partial autocorrelation,
  * robust rolling bands, label-variance decomposition, length-controlled
  * lexical diversity, audio segmentation runs, and systematic sampling.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-term rationals floor-quantized to integers BEFORE cross-row sums;
  * one fixed-shape IEEE expression per emitted float, mirrored verbatim
  * in DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5nOps {

  val all: Seq[Q] = Seq(

    Q("q_time_14_pacf",
      """WITH day AS (SELECT epoch_us(ts) // 86400000000 AS dday, CAST(count(*) AS BIGINT) AS x
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |dev AS (SELECT dday, CAST(count(*) OVER () * x - sum(x) OVER () AS BIGINT) AS d FROM day),
        |den AS (SELECT CAST(sum(d * d) AS BIGINT) AS den FROM dev),
        |lagged AS (SELECT k.k AS lag, CAST(sum(d.d * l.d) AS BIGINT) AS num
        | FROM (SELECT unnest(range(1, 4)) AS k) k
        | JOIN dev d ON true JOIN dev l ON l.dday = d.dday - CAST(k.k AS INTEGER) GROUP BY 1),
        |r AS (SELECT lag, CAST(floor(CAST(num AS DOUBLE) / den.den * 1000000 + 0.5) AS BIGINT) AS r6 FROM lagged, den),
        |p AS (SELECT
        |  max(CASE WHEN lag = 1 THEN r6 END) / 1000000.0 AS r1,
        |  max(CASE WHEN lag = 2 THEN r6 END) / 1000000.0 AS r2,
        |  max(CASE WHEN lag = 3 THEN r6 END) / 1000000.0 AS r3 FROM r),
        |dl AS (SELECT r1, r2, r3,
        |  (r2 - r1 * r1) / (1 - r1 * r1) AS phi22 FROM p),
        |dl2 AS (SELECT r1, r2, r3, phi22, r1 - phi22 * r1 AS phi21 FROM dl)
        |SELECT floor(r1 * 1000000 + 0.5) / 1000000 AS pacf1,
        | floor(phi22 * 1000000 + 0.5) / 1000000 AS pacf2,
        | floor((r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2) * 1000000 + 0.5) / 1000000 AS pacf3
        |FROM dl2""".stripMargin) { (s, d) =>
      // Partial autocorrelation of the daily purchase series at lags
      // 1..3 via Durbin–Levinson (φ11 = r₁; φ22 = (r₂−r₁²)/(1−r₁²);
      // φ33 from the level-2 coefficients) — the AR-order picker that
      // separates DIRECT lag effects from ones inherited through
      // shorter lags, which q_time_5's raw ACF mixes (AR(p) ⇒ PACF
      // cuts off after p; ACF just decays). Built ON the quantized ACF
      // integers (exact n²-scaled deviation core), so the recursion is
      // a fixed IEEE chain over three exact inputs. Scale: day-table
      // lag self-join (3×days), one-row result.
      val day = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("dday"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val all = Window.partitionBy()
      val dev = day.select(col("dday"),
        (count(lit(1)).over(all) * col("x") - sum("x").over(all)).cast("long").as("d"))
        .localCheckpoint()
      val den = dev.agg(sum(col("d") * col("d")).cast("long").as("den"))
      val ks = s.createDataFrame(java.util.Arrays.asList(
        (1 to 3).map(k => org.apache.spark.sql.Row(k.toLong)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lag", org.apache.spark.sql.types.LongType))))
      val l = dev.select(col("dday").as("ldday"), col("d").as("ld"))
      val lagged = ks.crossJoin(dev)
        .join(l, col("ldday") === col("dday") - col("lag"))
        .groupBy("lag").agg(sum(col("d") * col("ld")).cast("long").as("num"))
      val r = lagged.crossJoin(broadcast(den))
        .select(col("lag"),
          floor(col("num").cast("double") / col("den") * 1000000L + 0.5).cast("long").as("r6"))
      val p = r.agg(
        (max(when(col("lag") === 1, col("r6"))) / 1000000.0).as("r1"),
        (max(when(col("lag") === 2, col("r6"))) / 1000000.0).as("r2"),
        (max(when(col("lag") === 3, col("r6"))) / 1000000.0).as("r3"))
      val phi22 = (col("r2") - col("r1") * col("r1")) / (lit(1) - col("r1") * col("r1"))
      val dl2 = p.withColumn("phi22", phi22)
        .withColumn("phi21", col("r1") - col("phi22") * col("r1"))
      dl2.select(round(col("r1"), 6).as("pacf1"),
        round(col("phi22"), 6).as("pacf2"),
        round((col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1"))
          / (lit(1) - col("phi21") * col("r1") - col("phi22") * col("r2")), 6).as("pacf3"))
    },

    Q("q_win_18_robust_band",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |w AS (SELECT day, cents, CAST(count(*) OVER win AS BIGINT) AS k,
        |  list_sort(list(cents) OVER win) AS vals
        | FROM d WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |m AS (SELECT day, cents, k, vals[4] AS med,
        |  list_sort(list_transform(vals, v -> abs(v - vals[4])))[4] AS mad
        | FROM w WHERE k = 7)
        |SELECT CAST(day AS BIGINT) AS day,
        | floor(CAST(cents AS DOUBLE) / 100 * 100 + 0.5) / 100 AS daily_value,
        | floor(CAST(med AS DOUBLE) / 100 * 100 + 0.5) / 100 AS rolling_median,
        | floor(CAST(mad AS DOUBLE) / 100 * 100 + 0.5) / 100 AS rolling_mad,
        | CAST(CASE WHEN abs(cents - med) > 2 * mad THEN 1 ELSE 0 END AS BIGINT) AS outside
        |FROM m ORDER BY day""".stripMargin) { (s, d) =>
      // Robust rolling band: 7-day rolling MEDIAN ± 2·(rolling MAD)
      // with an outside flag — the outlier-immune twin of q_win_12's
      // Bollinger band (one promo spike inflates a rolling std and
      // hides the next spike; the median/MAD band doesn't budge). The
      // window is materialized as a SORTED 7-element array, so median
      // and MAD are exact element picks (4th of 7, twice) and the flag
      // is an exact integer comparison — no quantile interpolation, no
      // float accumulation anywhere. Scale: constant-width day-table
      // windows; the collected array is 7 longs.
      val dd = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val win = Window.orderBy("day").rowsBetween(-6, 0)
      val w = dd.select(col("day"), col("cents"),
        count(lit(1)).over(win).as("k"),
        sort_array(collect_list("cents").over(win)).as("vals"))
      val m = w.filter(col("k") === 7)
        .withColumn("med", element_at(col("vals"), 4))
        .withColumn("mad", element_at(sort_array(transform(col("vals"),
          v => abs(v - element_at(col("vals"), 4)))), 4))
      m.select(col("day").cast("long").as("day"),
          round(col("cents").cast("double") / 100, 2).as("daily_value"),
          round(col("med").cast("double") / 100, 2).as("rolling_median"),
          round(col("mad").cast("double") / 100, 2).as("rolling_mad"),
          when(abs(col("cents") - col("med")) > lit(2) * col("mad"), 1L).otherwise(0L).as("outside"))
        .orderBy("day")
    },

    Q("q_sim_25_variance_explained",
      """WITH x AS (SELECT label, g AS dim, CAST(floor(CAST(embedding[g + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        | FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS u(g)),
        |gl AS (SELECT dim, label, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS s, sum(CAST(q AS HUGEINT) * q) AS ss FROM x GROUP BY 1, 2),
        |pd AS (SELECT dim, CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s, sum(ss) AS ssd,
        |  CAST(sum(CAST(floor(CAST(s AS DOUBLE) * s / n + 0.5) AS BIGINT)) AS BIGINT) AS bsum
        | FROM gl GROUP BY 1),
        |tot AS (SELECT CAST(sum(ssd) AS DOUBLE) AS sstot,
        |  CAST(sum(CAST(floor(CAST(s AS DOUBLE) * s / n + 0.5) AS BIGINT)) AS DOUBLE) AS corr,
        |  CAST(sum(bsum) AS DOUBLE) AS btot,
        |  CAST(count(*) AS BIGINT) AS n_dims FROM pd)
        |SELECT n_dims,
        | floor((btot - corr) / (sstot - corr) * 1000000 + 0.5) / 1000000 AS var_explained
        |FROM tot""".stripMargin) { (s, d) =>
      // Variance explained by labels: the multivariate ANOVA ratio
      // SS_between/SS_total summed over all embedding dimensions — ONE
      // number for "how much of the geometry is label-driven" (≈2% on
      // this random fixture — honest; a trained encoder shows 30–60%),
      // the global complement of q_sim_23's pairwise separation and
      // q_ml_7's per-dim screens. Per-(dim, label) sufficient
      // statistics are exact BIGINTs of 1e-6-quantized components;
      // each group's s²/n term is floor-quantized to an integer BEFORE
      // the cross-group sums (q_stat_11's ANOVA discipline, applied
      // per dim then summed — scale-invariance of the ratio means no
      // unit conversions at all). Scale: posexplode projection,
      // (dim, label)-keyed agg of dims×labels rows, constant tail.
      val x = Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          floor(col("v").cast("double") * 1000000L + 0.5).cast("long").as("q"))
      val gl = x.groupBy("dim", "label").agg(count(lit(1)).as("n"), sum("q").as("s"),
        sum(col("q").cast(DecimalType(38, 0)) * col("q")).as("ss"))
      val bterm = floor(col("s").cast("double") * col("s") / col("n") + 0.5).cast("long")
      val pd = gl.groupBy("dim").agg(sum("n").as("n"), sum("s").as("s"),
        sum("ss").as("ssd"), sum(bterm).as("bsum"))
      val corrTerm = floor(col("s").cast("double") * col("s") / col("n") + 0.5).cast("long")
      val tot = pd.agg(sum("ssd").cast("double").as("sstot"),
        sum(corrTerm).cast("double").as("corr"),
        sum("bsum").cast("double").as("btot"),
        count(lit(1)).as("n_dims"))
      tot.select(col("n_dims"),
        round((col("btot") - col("corr")) / (col("sstot") - col("corr")), 6).as("var_explained"))
    },

    Q("q_text_44_ttr_curve",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT bud.b, doc_id, len(list_distinct(tk[1:bud.b])) AS u
        | FROM t, (SELECT unnest([10, 20, 40]) AS b) bud WHERE len(tk) >= bud.b),
        |q AS (SELECT b, CAST(floor(CAST(u AS DOUBLE) / b * 1000000 + 0.5) AS BIGINT) AS ttr6 FROM b)
        |SELECT CAST(b AS BIGINT) AS token_budget, CAST(count(*) AS BIGINT) AS n_docs,
        | floor(CAST(sum(ttr6) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mean_ttr
        |FROM q GROUP BY 1 ORDER BY token_budget""".stripMargin) { (s, d) =>
      // Length-controlled lexical diversity: mean type-token ratio over
      // the FIRST 10 / 20 / 40 tokens of each (long-enough) document —
      // TTR falls mechanically with length (Heaps' law, q_text_35), so
      // raw uniq ratios confound length with diversity (exactly the
      // confound in q_dedup_17's kept-vs-dropped comparison); fixing
      // the budget makes documents comparable. Per-doc prefix TTRs are
      // quantized to 1e-6 integers BEFORE the per-budget mean; prefix
      // distinct counts are exact. Curve declining across budgets is
      // the expected Heaps signature. Scale: one scan, 3 slices per
      // doc, 3-row output.
      val t = Tables(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("tk"))
      val budgets = Seq(10, 20, 40)
      val b = budgets.map { bud =>
        t.filter(size(col("tk")) >= bud)
          .select(lit(bud.toLong).as("b"),
            size(array_distinct(slice(col("tk"), 1, bud))).cast("long").as("u"))
      }.reduce(_ union _)
      val q = b.select(col("b"),
        floor(col("u").cast("double") / col("b") * 1000000L + 0.5).cast("long").as("ttr6"))
      q.groupBy(col("b").as("token_budget")).agg(count(lit(1)).as("n_docs"),
          (floor(sum("ttr6").cast("double") / count(lit(1)) + 0.5) / 1000000L).as("mean_ttr"))
        .orderBy("token_budget")
    },

    Q("q_mm_8_silence_runs",
      """WITH px AS (SELECT doc_id, i, ascii(substring(text, (i % len(text)) + 1, 1)) - 128 AS s
        | FROM documents, (SELECT unnest(range(0, 256)) AS i) WHERE doc_id < 100),
        |fr AS (SELECT doc_id, CAST(i // 32 AS BIGINT) AS frame, CAST(sum(s * s) AS BIGINT) AS energy
        | FROM px GROUP BY doc_id, i // 32),
        |md AS (SELECT doc_id, frame, energy,
        |  list_sort(list(energy) OVER (PARTITION BY doc_id))[4] AS med
        | FROM fr),
        |fl AS (SELECT doc_id, frame, CASE WHEN energy < med THEN 1 ELSE 0 END AS low FROM md),
        |v AS (SELECT doc_id, frame, low,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY frame) AS BIGINT)
        |  - CAST(row_number() OVER (PARTITION BY doc_id, low ORDER BY frame) AS BIGINT) AS grp FROM fl),
        |runs AS (SELECT doc_id, low, grp, CAST(count(*) AS BIGINT) AS len FROM v WHERE low = 1 GROUP BY 1, 2, 3)
        |SELECT fl.doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(sum(fl.low) AS BIGINT) AS n_low,
        | CAST(COALESCE((SELECT max(len) FROM runs r WHERE r.doc_id = fl.doc_id), 0) AS BIGINT) AS longest_low_run,
        | CAST(COALESCE((SELECT count(*) FROM runs r WHERE r.doc_id = fl.doc_id), 0) AS BIGINT) AS n_low_runs
        |FROM fl GROUP BY fl.doc_id ORDER BY fl.doc_id""".stripMargin) { (s, d) =>
      // Audio segmentation runs: per synthetic-PCM blob (q_mm_6's frame
      // machinery), the count and LONGEST run of consecutive
      // below-median-energy frames — the voice-activity segmentation
      // shape (silence runs are where a VAD cuts; the flag is each
      // doc's own exact lower-median energy, so the audit is
      // level-independent and never degenerates on loud or quiet
      // sources — a fixed threshold flags nothing here, measured).
      // Runs are the per-doc gaps-and-islands device (q_win_15's, keyed
      // by doc); the median is an exact 4th-of-8 element pick. Scale:
      // frames never cross partitions; everything is doc-keyed.
      val px = Tables(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"), explode(sequence(lit(0), lit(255))).as("i"))
        .select(col("doc_id"), expr("CAST(i div 32 AS BIGINT)").as("frame"),
          expr("ascii(substring(text, (i % length(text)) + 1, 1)) - 128").as("smp"))
      val fr = px.groupBy("doc_id", "frame")
        .agg(sum(col("smp") * col("smp")).cast("long").as("energy"))
      val md = fr.withColumn("med",
        element_at(sort_array(collect_list("energy").over(Window.partitionBy("doc_id"))), 4))
      val fl = md.select(col("doc_id"), col("frame"),
        when(col("energy") < col("med"), 1L).otherwise(0L).as("low"))
      val v = fl.withColumn("grp",
        row_number().over(Window.partitionBy("doc_id").orderBy("frame")).cast("long")
          - row_number().over(Window.partitionBy("doc_id", "low").orderBy("frame")).cast("long"))
      val runs = v.filter(col("low") === 1)
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("len"))
      val runStats = runs.groupBy("doc_id")
        .agg(max("len").as("longest_low_run"), count(lit(1)).as("n_low_runs"))
      fl.groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"), sum("low").cast("long").as("n_low"))
        .join(runStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"), col("n_low"),
          coalesce(col("longest_low_run"), lit(0L)).as("longest_low_run"),
          coalesce(col("n_low_runs"), lit(0L)).as("n_low_runs"))
        .orderBy("doc_id")
    },

    Q("q_scan_17_systematic",
      """WITH o AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |  CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS rn FROM orders),
        |s AS (SELECT * FROM o WHERE rn % 20 = 1),
        |pop AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sc FROM o),
        |sam AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sc FROM s)
        |SELECT pop.n AS n_pop, sam.n AS n_sample,
        | floor(CAST(pop.sc AS DOUBLE) / pop.n / 100 * 100 + 0.5) / 100 AS pop_mean,
        | floor(CAST(sam.sc AS DOUBLE) / sam.n / 100 * 100 + 0.5) / 100 AS sample_mean,
        | floor((CAST(sam.sc AS DOUBLE) / sam.n - CAST(pop.sc AS DOUBLE) / pop.n)
        |  / (CAST(pop.sc AS DOUBLE) / pop.n) * 1000000 + 0.5) / 1000000 AS rel_bias
        |FROM pop, sam""".stripMargin) { (s, d) =>
      // Systematic (every k-th) sampling: take every 20th order in
      // stable key order and report the sample-vs-population mean bias
      // — the third sampling design beside hash (q_scan_13, coverage by
      // randomization) and stratified (q_scan_14, coverage by
      // construction): systematic costs one sort but guarantees even
      // COVERAGE OF THE KEY RANGE, and its failure mode (periodicity
      // aligned with the stride) is exactly what the bias readout
      // checks. Deterministic: rank over the unique key; all sums
      // exact cents. Scale: the rank IS repartitionByRange —
      // exactGlobalRank, not a one-task global window (r11 fix: the
      // checkpoint-capture lint caught the window form this comment
      // had only promised away); at 100 TB a date-partitioned layout
      // samples within partitions with per-partition offsets.
      val o = graft.api.Pipelines.exactGlobalRank(
          Tables(s, d, "orders").select(col("o_orderkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
          Seq(col("o_orderkey")), "rn")
        ._2.localCheckpoint()
      val sam = o.filter(col("rn") % 20 === 1)
        .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
      val pop = o.agg(count(lit(1)).as("n"), sum("cents").as("sc"))
      pop.select(col("n").as("n_pop"), col("sc").as("psc"))
        .crossJoin(broadcast(sam.select(col("n").as("n_sample"), col("sc").as("ssc"))))
        .select(col("n_pop"), col("n_sample"),
          round(col("psc").cast("double") / col("n_pop") / 100, 2).as("pop_mean"),
          round(col("ssc").cast("double") / col("n_sample") / 100, 2).as("sample_mean"),
          round((col("ssc").cast("double") / col("n_sample") - col("psc").cast("double") / col("n_pop"))
            / (col("psc").cast("double") / col("n_pop")), 6).as("rel_bias"))
    }
  )
}
