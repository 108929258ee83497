package graft.operators

import graft.Q
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 continuation (SURVEY §2.11r): learning curves, curation
  * funnels, streak analysis, proportion trend testing, session
  * concurrency, clustered ratio-metric intervals, and write-side
  * partition manifests.
  *
  * Determinism discipline (§2.12, unchanged): exact BIGINT sufficient
  * statistics everywhere a float would otherwise accumulate across rows;
  * per-term floats floor-quantized to integers BEFORE cross-row sums;
  * squares that can outgrow int64 ride DECIMAL(38,0)/HUGEINT; one
  * fixed-shape IEEE expression per emitted float, mirrored verbatim in
  * DuckDB; total ORDER BY everywhere multi-row.
  */
object Round5iOps {

  val all: Seq[Q] = Seq(

    Q("q_ml_4_learning_curve",
      """WITH base AS (SELECT vec_id, label, embedding,
        |  (vec_id % 1000000007) * 2654435761 % 1000000007 % 5 = 0 AS is_test,
        |  (vec_id % 1000000007) * 1103515245 % 1000000007 % 4 AS tslot
        | FROM embeddings),
        |fr AS (SELECT * FROM (VALUES (1), (2), (4)) AS t(f)),
        |trainx AS (SELECT f, label, g AS dim,
        |  CAST(floor(CAST(embedding[g + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        | FROM base, fr, unnest(generate_series(0, len(embedding) - 1)) AS u(g)
        | WHERE NOT is_test AND tslot < f),
        |cent AS (SELECT f, label, dim, CAST(sum(q) AS BIGINT) AS sa, CAST(count(*) AS BIGINT) AS na
        | FROM trainx GROUP BY 1, 2, 3),
        |testx AS (SELECT vec_id, label AS actual, g AS dim, CAST(embedding[g + 1] AS DOUBLE) AS x
        | FROM base, unnest(generate_series(0, len(embedding) - 1)) AS u(g) WHERE is_test),
        |dist AS (SELECT c.f, t.vec_id, t.actual, c.label AS cand,
        |  CAST(sum(CAST(floor((t.x - CAST(c.sa AS DOUBLE) / c.na / 1000000) * (t.x - CAST(c.sa AS DOUBLE) / c.na / 1000000) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS dq
        | FROM testx t JOIN cent c ON t.dim = c.dim GROUP BY 1, 2, 3, 4),
        |best AS (SELECT f, vec_id, actual, cand, row_number() OVER (PARTITION BY f, vec_id ORDER BY dq, cand) AS rn FROM dist),
        |acc AS (SELECT f, CAST(count(*) AS BIGINT) AS n_test, CAST(sum(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS BIGINT) AS ok
        | FROM best WHERE rn = 1 GROUP BY 1),
        |tr AS (SELECT f, CAST(sum(na) AS BIGINT) AS tot FROM cent GROUP BY 1)
        |SELECT CAST(acc.f AS BIGINT) * 25 AS train_pct, CAST(tr.tot / 64 AS BIGINT) AS n_train, acc.n_test, acc.ok,
        | floor(CAST(acc.ok AS DOUBLE) / acc.n_test * 1000000 + 0.5) / 1000000 AS accuracy
        |FROM acc JOIN tr ON acc.f = tr.f ORDER BY train_pct""".stripMargin) { (s, d) =>
      // Learning curve of a nearest-centroid classifier on the
      // embedding labels: accuracy on a FIXED deterministic 20% test
      // split as the training pool grows 25% → 50% → 100% — the
      // "will more data help" diagnostic (slope still rising ⇒ yes)
      // that sits above q_ml_2's single-point accuracy. Train/test
      // splits and the fraction ladder are house stable-id hashes (two
      // independent multipliers); centroids are exact integer sums of
      // 1e-6-quantized components; per-dim squared deviations are
      // floor-quantized to 1e-9 integers BEFORE the over-dims sum, so
      // the argmin is an exact-BIGINT compare with a label tiebreak.
      // Scale: test×labels×dims is the only cross table and the test
      // side is a fixed fraction; centroid tables are |labels|·dims.
      val base = Tables(s, d, "embeddings").select(col("vec_id"), col("label"), col("embedding"),
        (col("vec_id") % 1000000007L * 2654435761L % 1000000007L % 5 === 0).as("is_test"),
        (col("vec_id") % 1000000007L * 1103515245L % 1000000007L % 4).as("tslot"))
        .localCheckpoint()
      val fractions = Seq(1, 2, 4)
      val trainx = base.filter(!col("is_test"))
        .select(col("label"), col("tslot"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("tslot"), col("dim"),
          floor(col("v").cast("double") * 1000000L + 0.5).cast("long").as("q"))
      val cent = fractions.map { f =>
        trainx.filter(col("tslot") < f)
          .groupBy("label", "dim").agg(sum("q").as("sa"), count(lit(1)).as("na"))
          .withColumn("f", lit(f))
      }.reduce(_ union _)
      val testx = base.filter(col("is_test"))
        .select(col("vec_id"), col("label").as("actual"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("actual"), col("dim"), col("v").cast("double").as("x"))
      val diff = col("x") - col("sa").cast("double") / col("na") / 1000000L
      val dist = testx.join(broadcast(cent), "dim")
        .select(col("f"), col("vec_id"), col("actual"), col("label").as("cand"),
          floor(diff * diff * 1000000000L + 0.5).cast("long").as("dq"))
        .groupBy("f", "vec_id", "actual", "cand").agg(sum("dq").cast("long").as("dq"))
      val best = dist.withColumn("rn",
        row_number().over(Window.partitionBy("f", "vec_id").orderBy(col("dq"), col("cand"))))
        .filter(col("rn") === 1)
      val acc = best.groupBy("f").agg(count(lit(1)).as("n_test"),
        sum(when(col("cand") === col("actual"), 1).otherwise(0)).cast("long").as("ok"))
      val tr = cent.groupBy("f").agg(sum("na").as("tot"))
      acc.join(tr, "f")
        .select((col("f") * 25).cast("long").as("train_pct"),
          expr("tot div 64").as("n_train"), col("n_test"), col("ok"),
          round(col("ok").cast("double") / col("n_test"), 6).as("accuracy"))
        .orderBy("train_pct")
    },

    Q("q_pipe_2_quality_funnel",
      """WITH t AS (SELECT doc_id, text, len(string_split(text, ' ')) AS ntok, len(list_distinct(string_split(text, ' '))) AS nuniq FROM documents),
        |s1 AS (SELECT * FROM t WHERE ntok BETWEEN 20 AND 500),
        |s2 AS (SELECT * FROM s1 WHERE (ntok - nuniq) * 5 <= 3 * ntok),
        |s3 AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(lower(trim(text)))),
        |s4base AS (SELECT s2.* FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id),
        |s4 AS (SELECT min(doc_id) AS doc_id FROM s4base GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))),
        |cnt AS (SELECT 0 AS stage, 'total' AS name, CAST(count(*) AS BIGINT) AS n FROM t
        | UNION ALL SELECT 1, 'length_filter', count(*) FROM s1
        | UNION ALL SELECT 2, 'repetition_filter', count(*) FROM s2
        | UNION ALL SELECT 3, 'exact_dedup', count(*) FROM s3
        | UNION ALL SELECT 4, 'near_dedup', count(*) FROM s4),
        |tot AS (SELECT n AS n0 FROM cnt WHERE stage = 0)
        |SELECT CAST(stage AS BIGINT) AS stage, name, n,
        | floor(CAST(n AS DOUBLE) / tot.n0 * 1000000 + 0.5) / 1000000 AS survival_rate,
        | CAST(COALESCE(lag(n) OVER (ORDER BY stage) - n, 0) AS BIGINT) AS dropped
        |FROM cnt, tot ORDER BY stage""".stripMargin) { (s, d) =>
      // Curation-funnel accounting: documents surviving each cumulative
      // stage — length gate [20, 500] tokens → repetition gate
      // (dup-token fraction ≤ 0.6, an EXACT integer cross-multiplication
      // (ntok−nuniq)·5 ≤ 3·ntok — no float threshold) → exact dedup →
      // token-set near dedup — with per-stage survival rate and drop
      // count. q_pipe_1 accounts for the END state; this is the
      // stage-attribution view ("which gate costs us the corpus") that
      // decides where to tune. Thresholds sit at this fixture's
      // distribution (median dup fraction 0.54) so every stage does
      // real work. Scale: each stage is the already-verified operator's
      // shape; digests shuffle, never text.
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("nuniq"))
        .localCheckpoint()
      val s1 = t.filter(col("ntok").between(20, 500))
      val s2 = s1.filter((col("ntok") - col("nuniq")) * 5 <= col("ntok") * 3)
      val s3 = s2.groupBy(md5(lower(trim(col("text"))))).agg(min("doc_id").as("doc_id"))
      val s4base = s2.join(s3.select("doc_id"), "doc_id")
      val s4 = s4base.groupBy(
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " "))))))
        .agg(min("doc_id").as("doc_id"))
      def c(stage: Int, name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(stage.toLong).as("stage"),
          lit(name).as("name"), col("n"))
      val cnt = Seq(c(0, "total", t), c(1, "length_filter", s1),
        c(2, "repetition_filter", s2), c(3, "exact_dedup", s3), c(4, "near_dedup", s4))
        .reduce(_ union _)
      val tot = cnt.filter(col("stage") === 0).select(col("n").as("n0"))
      cnt.crossJoin(broadcast(tot))
        .select(col("stage"), col("name"), col("n"),
          round(col("n").cast("double") / col("n0"), 6).as("survival_rate"),
          coalesce(lag("n", 1).over(Window.orderBy("stage")) - col("n"), lit(0L)).as("dropped"))
        .orderBy("stage")
    },

    Q("q_win_15_streaks",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |ch AS (SELECT day, cents, CASE WHEN cents > lag(cents) OVER (ORDER BY day) THEN 1
        |  WHEN cents < lag(cents) OVER (ORDER BY day) THEN -1 ELSE 0 END AS sgn FROM d),
        |v AS (SELECT day, sgn,
        |  CAST(row_number() OVER (ORDER BY day) AS BIGINT)
        |  - CAST(row_number() OVER (PARTITION BY sgn ORDER BY day) AS BIGINT) AS grp
        | FROM ch WHERE sgn IS NOT NULL),
        |st AS (SELECT sgn, grp, CAST(count(*) AS BIGINT) AS len FROM v WHERE sgn <> 0 GROUP BY 1, 2)
        |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_days,
        | CAST(COALESCE(max(CASE WHEN sgn = 1 THEN len END), 0) AS BIGINT) AS longest_up,
        | CAST(COALESCE(max(CASE WHEN sgn = -1 THEN len END), 0) AS BIGINT) AS longest_down,
        | CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up_streaks,
        | CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down_streaks
        |FROM st""".stripMargin) { (s, d) =>
      // Momentum streaks: longest run of consecutive daily revenue
      // increases / decreases and streak counts — the sign-level
      // gaps-and-islands (q_win_9's device applied to the DIFFERENCED
      // series; q_stat_12's runs test asks if these runs are random,
      // this reports the extremes). Flat days (zero diff) break streaks
      // in both directions (stated). The island id is the classic
      // rn − rn-within-sign difference — two windows over one sort.
      // Scale: day-table windows, one-row result.
      val dd = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val ch = dd.withColumn("prev", lag("cents", 1).over(Window.orderBy("day")))
        .filter(col("prev").isNotNull)
        .withColumn("sgn",
          when(col("cents") > col("prev"), 1).when(col("cents") < col("prev"), -1).otherwise(0))
      val v = ch.select(col("day"), col("sgn"),
        (row_number().over(Window.orderBy("day")).cast("long")
          - row_number().over(Window.partitionBy("sgn").orderBy("day")).cast("long")).as("grp"))
      val st = v.filter(col("sgn") =!= 0).groupBy("sgn", "grp").agg(count(lit(1)).as("len"))
      val nDays = dd.agg(count(lit(1)).as("n_days"))
      st.agg(
          coalesce(max(when(col("sgn") === 1, col("len"))), lit(0L)).as("longest_up"),
          coalesce(max(when(col("sgn") === -1, col("len"))), lit(0L)).as("longest_down"),
          sum(when(col("sgn") === 1, 1).otherwise(0)).cast("long").as("n_up_streaks"),
          sum(when(col("sgn") === -1, 1).otherwise(0)).cast("long").as("n_down_streaks"))
        .crossJoin(broadcast(nDays))
        .select(col("n_days"), col("longest_up"), col("longest_down"),
          col("n_up_streaks"), col("n_down_streaks"))
    },

    Q("q_stat_22_trend_test",
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
        | FROM events GROUP BY 1),
        |s AS (SELECT day, n, k, CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS si FROM d),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
        |  CAST(sum(si * k) AS BIGINT) AS sk, CAST(sum(si * n) AS BIGINT) AS sn, CAST(sum(si * si * n) AS BIGINT) AS ssn FROM s)
        |SELECT nd AS n_days, nn AS n_events, kk AS n_purchases,
        | floor((CAST(sk AS DOUBLE) - CAST(kk AS DOUBLE) / nn * sn)
        |  / sqrt((CAST(kk AS DOUBLE) / nn) * (1 - CAST(kk AS DOUBLE) / nn) * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nn)) * 1000000 + 0.5) / 1000000 AS z_trend
        |FROM g""".stripMargin) { (s, d) =>
      // Cochran–Armitage trend test: is the daily purchase PROPORTION
      // drifting monotonically over time? The proportion-specific trend
      // z that q_stat_10's Kendall (rank-level) and q_time_10's
      // changepoint (level-shift) don't cover — this is the test an
      // experiment platform runs for conversion-rate drift. Day index
      // is the score; all five sufficient statistics (Σs·k, Σs·n,
      // Σs²·n, K, N) are exact BIGINTs off the day table; z is one IEEE
      // closed form. Scale: day-collapsed map-side agg, one row out.
      val dd = Tables(s, d, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("k"))
      val si = dd.withColumn("si", (row_number().over(Window.orderBy("day")) - 1).cast("long"))
      val g = si.agg(count(lit(1)).as("nd"), sum("n").as("nn"), sum("k").as("kk"),
        sum(col("si") * col("k")).as("sk"), sum(col("si") * col("n")).as("sn"),
        sum(col("si") * col("si") * col("n")).as("ssn"))
      val pbar = col("kk").cast("double") / col("nn")
      g.select(col("nd").as("n_days"), col("nn").as("n_events"), col("kk").as("n_purchases"),
        round((col("sk").cast("double") - pbar * col("sn"))
          / sqrt(pbar * (lit(1) - pbar)
            * (col("ssn").cast("double") - col("sn").cast("double") * col("sn") / col("nn"))), 6)
          .as("z_trend"))
    },

    Q("q_stream_22_concurrency",
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
        |x AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM x),
        |sess AS (SELECT user_id, sid, epoch_us(min(ts)) AS st, epoch_us(max(ts)) AS en FROM s GROUP BY 1, 2),
        |pts AS (SELECT st AS t, 1 AS delta FROM sess UNION ALL SELECT en + 1, -1 FROM sess),
        |run AS (SELECT t, CAST(sum(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc FROM pts),
        |mx AS (SELECT t, conc, row_number() OVER (ORDER BY conc DESC, t) AS rn FROM run)
        |SELECT CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions,
        | CAST(conc AS BIGINT) AS max_concurrent, CAST(t AS BIGINT) AS at_us
        |FROM mx WHERE rn = 1""".stripMargin) { (s, d) =>
      // Peak session concurrency: sweep-line over the 30-minute session
      // intervals (q_stream_3's sessions) — +1 at each start, −1 just
      // past each inclusive end, running sum, max — "how many sessions
      // were open at once", the number that sizes stateful-stream
      // memory (the very state q_stream_5's dedup and sessionizeStream
      // carry) and connection pools. Boundary order (t, delta) puts
      // closings before openings at the same µs, so back-to-back
      // sessions never double-count (stated). All integers; earliest-
      // peak tiebreak. Scale: the session table scales with the event
      // stream (user x 30-min window), so the sweep is the
      // range-partitioned groupRankPrefix sum (per-partition totals + stitched
      // offsets), NOT a single-partition window, and the peak pick is
      // a TakeOrdered(1).
      graft.streaming.Streams.concurrencyFinish(
        graft.streaming.Streams.sessionSpans(Tables(s, d, "events")))
    },

    Q("q_agg_37_ratio_ci",
      """WITH e AS (SELECT user_id, (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  CASE WHEN event_type = 'purchase' THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END AS x FROM events),
        |u AS (SELECT dow, user_id, CAST(sum(x) AS BIGINT) AS xu, CAST(count(*) AS BIGINT) AS nu FROM e GROUP BY 1, 2),
        |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS uu, CAST(sum(xu) AS BIGINT) AS sx, CAST(sum(nu) AS BIGINT) AS sn,
        |  sum(CAST(xu AS HUGEINT) * xu) AS sxx, CAST(sum(xu * nu) AS BIGINT) AS sxn, CAST(sum(nu * nu) AS BIGINT) AS snn FROM u GROUP BY 1)
        |SELECT CAST(dow AS BIGINT) AS dow, uu AS n_users,
        | floor(CAST(sx AS DOUBLE) / sn / 100 * 10000 + 0.5) / 10000 AS cents_per_event,
        | floor(sqrt((CAST(sxx AS DOUBLE) - 2 * (CAST(sx AS DOUBLE) / sn) * sxn + (CAST(sx AS DOUBLE) / sn) * (CAST(sx AS DOUBLE) / sn) * snn) * uu / (uu - 1)) / sn / 100 * 10000 + 0.5) / 10000 AS se,
        | floor((CAST(sx AS DOUBLE) / sn - 1.959964 * sqrt((CAST(sxx AS DOUBLE) - 2 * (CAST(sx AS DOUBLE) / sn) * sxn + (CAST(sx AS DOUBLE) / sn) * (CAST(sx AS DOUBLE) / sn) * snn) * uu / (uu - 1)) / sn) / 100 * 10000 + 0.5) / 10000 AS lo,
        | floor((CAST(sx AS DOUBLE) / sn + 1.959964 * sqrt((CAST(sxx AS DOUBLE) - 2 * (CAST(sx AS DOUBLE) / sn) * sxn + (CAST(sx AS DOUBLE) / sn) * (CAST(sx AS DOUBLE) / sn) * snn) * uu / (uu - 1)) / sn) / 100 * 10000 + 0.5) / 10000 AS hi
        |FROM g ORDER BY dow""".stripMargin) { (s, d) =>
      // Ratio-metric confidence interval per day-of-week: purchase
      // cents PER EVENT with a user-clustered delta-method 95% CI —
      // the A/B-platform metric shape (ratio of sums over user
      // clusters; a per-event t-test is WRONG here because events
      // within a user correlate, which is why q_stat_19/q_stat_8 don't
      // cover it). Var(R) ≈ Σ(xᵤ−R·nᵤ)² · u/(u−1) / (Σn)², expanded to
      // the three exact cross-moments Σx², Σxn, Σn² (x² rides
      // HUGEINT/DECIMAL) so no residual is ever materialized. Scale:
      // one (dow, user) agg then a 7-row reduction.
      val e = Tables(s, d, "events").select(col("user_id"),
        ((expr("unix_micros(ts) div 86400000000") + 4) % 7).as("dow"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L).as("x"))
      val u = e.groupBy("dow", "user_id").agg(sum("x").as("xu"), count(lit(1)).as("nu"))
      val g = u.groupBy("dow").agg(count(lit(1)).as("uu"), sum("xu").as("sx"), sum("nu").as("sn"),
        sum(col("xu").cast(DecimalType(38, 0)) * col("xu")).as("sxx"),
        sum(col("xu") * col("nu")).as("sxn"), sum(col("nu") * col("nu")).as("snn"))
      val r = col("sx").cast("double") / col("sn")
      val varSum = (col("sxx").cast("double") - lit(2) * r * col("sxn") + r * r * col("snn")) *
        col("uu") / (col("uu") - 1)
      val se = sqrt(varSum) / col("sn")
      g.select(col("dow").cast("long").as("dow"), col("uu").as("n_users"),
          round(r / 100, 4).as("cents_per_event"),
          round(se / 100, 4).as("se"),
          round((r - lit(1.959964) * se) / 100, 4).as("lo"),
          round((r + lit(1.959964) * se) / 100, 4).as("hi"))
        .orderBy("dow")
    },

    Q("q_sink_3_manifest",
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(o_orderkey) AS BIGINT) AS min_key, CAST(max(o_orderkey) AS BIGINT) AS max_key,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin) { (s, d) =>
      // Write-side partition manifest: write orders partitioned by
      // month, then produce per-partition row counts, key min/max, and
      // value totals FROM THE WRITTEN LAYOUT — the manifest a lakehouse
      // writer publishes so downstream readers can prune and validate
      // without listing files (the oracle computes the same numbers
      // from the source table, proving the partitioned write is
      // lossless AND the manifest is faithful). Min/max per partition
      // is exactly what parquet row-group footers serve at scale; this
      // materializes it at the partition grain. Scale: one
      // partitionBy write (month-balanced), one partition-pruned
      // re-scan.
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_manifest_${s.sparkContext.applicationId}"
      Tables(s, d, "orders")
        .withColumn("month", date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("month").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy("month")
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
        .orderBy("month")
    }
  )
}
