package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 continuation (SURVEY §2.11au): null-skew join isolation,
  * order-statistic confidence intervals, transition dwell times, the
  * friendship-paradox readout, dedup method overlap, weighted moving
  * averages, small-file compaction, and honest cross-validated stump
  * selection.
  *
  * Determinism discipline (§2.12): order statistics select by exact
  * integer ranks with id tie-breaks; accuracies/ratios quantize to
  * integers BEFORE any argmax; file-level assertions count rows, never
  * bytes.
  */
object Round6eOps {

  val all: Seq[Q] = Seq(

    // Null-key isolation join: orders with a nullable customer link
    // LEFT JOIN customer — the Spark side routes NULL keys AROUND the
    // join entirely (they can never match; shipping them through the
    // shuffle is pure waste, and a heavily-null key column is the most
    // common real-world join skew). Result is bit-identical to the
    // naive left join.
    Q("q_join_22_null_isolate",
      """WITH o AS (SELECT o_orderkey,
        |  CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END AS k,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        | CAST(sum(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_key,
        | floor(CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN o.cents ELSE 0 END) AS DOUBLE) / 100 * 100 + 0.5) / 100 AS matched_value
        |FROM o LEFT JOIN customer c ON o.k = c.c_custkey""".stripMargin) { (s, d) =>
      // Split-by-nullability: the null partition is a zero-cost
      // pass-through projection (no exchange), the non-null partition
      // is the real hash join; the union restores the left-join
      // contract. At 100 TB this removes every null row from the
      // shuffle — the null-skew mitigation that salting can't express
      // (salting spreads the skew; isolation deletes it).
      val o = Tables(s, d, "orders").select(col("o_orderkey"),
        when(col("o_custkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")).as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val c = Tables(s, d, "customer").select(col("c_custkey"))
      val nullSide = o.filter(col("k").isNull)
        .withColumn("c_custkey", lit(null).cast("long"))
      val joined = o.filter(col("k").isNotNull)
        .join(c, col("k") === col("c_custkey"), "left_outer")
      joined.select("o_orderkey", "k", "cents", "c_custkey")
        .union(nullSide.select("o_orderkey", "k", "cents", "c_custkey"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("c_custkey").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_key"),
          Num.round(sum(when(col("c_custkey").isNotNull, col("cents")).otherwise(0L))
            .cast("double") / 100, 2).as("matched_value"))
    },

    // Distribution-free CI for the MEDIAN order value by order
    // statistics: ranks floor((n − 1.96√n)/2) and ceil((n + 1.96√n)/2)
    // bound the true median at ~95% without any normality assumption —
    // the robust sibling of q_agg_37's ratio CI (which needs moments).
    Q("q_stat_32_median_ci",
      """WITH o AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents, o_orderkey FROM orders),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn FROM o),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |k AS (SELECT n,
        |  greatest(1, least(n, CAST(floor((n - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT))) AS r_lo,
        |  greatest(1, least(n, CAST(ceil((n + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT))) AS r_hi,
        |  (n + 1) // 2 AS r_med FROM n)
        |SELECT k.n,
        | floor(CAST((SELECT cents FROM r WHERE rn = k.r_lo) AS DOUBLE) / 100 * 100 + 0.5) / 100 AS ci_lo,
        | floor(CAST((SELECT cents FROM r WHERE rn = k.r_med) AS DOUBLE) / 100 * 100 + 0.5) / 100 AS median,
        | floor(CAST((SELECT cents FROM r WHERE rn = k.r_hi) AS DOUBLE) / 100 * 100 + 0.5) / 100 AS ci_hi
        |FROM k""".stripMargin) { (s, d) =>
      // Ranks are exact integers computed once from n (the float only
      // picks WHICH order statistics — both engines floor/ceil the
      // same double); the three selections run through
      // Pipelines.exactRankPick — range-partition on the value, P-row
      // histogram, per-partition local sort — so no stage funnels the
      // fact table through one task. The CI math is unchanged.
      def ranksOf(n: Long): Seq[Long] = {
        require(n > 0, "q_stat_32_median_ci: empty orders table")
        // clamp to [1, n] (mirrored in the oracle): for tiny n the raw
        // formula yields rank 0 / n+1, which no row carries — both
        // engines would otherwise fail in DIFFERENT ways (NULL vs throw)
        def clamp(r: Long) = math.max(1L, math.min(n, r))
        Seq(clamp(math.floor((n - 1.96 * math.sqrt(n.toDouble)) / 2).toLong),
          (n + 1) / 2,
          clamp(math.ceil((n + 1.96 * math.sqrt(n.toDouble)) / 2).toLong))
      }
      val o = Tables(s, d, "orders")
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val (n, picks) = graft.api.Pipelines.exactRankPick(o, "cents", ranksOf)
      val Seq(rLo, rMed, rHi) = ranksOf(n)
      import s.implicits._
      Seq((n, math.floor(picks(rLo).toDouble / 100 * 100 + 0.5) / 100,
        math.floor(picks(rMed).toDouble / 100 * 100 + 0.5) / 100,
        math.floor(picks(rHi).toDouble / 100 * 100 + 0.5) / 100))
        .toDF("n", "ci_lo", "median", "ci_hi")
    },

    // Transition dwell times: for the 10 most common consecutive
    // event-type pairs, how LONG the step takes (mean/max gap) — the
    // timing layer q_stream_13's Markov counts don't see (two
    // transitions can be equally frequent with 100× different dwell).
    Q("q_stream_36_dwell",
      """WITH t AS (SELECT user_id,
        |  lag(event_type) OVER w AS prev_type, event_type,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT prev_type || '>' || event_type AS step,
        | CAST(count(*) AS BIGINT) AS n,
        | floor(CAST(sum(gap) AS DOUBLE) / count(*) / 1000000 * 1000 + 0.5) / 1000 AS mean_gap_s,
        | CAST(max(gap) // 1000000 AS BIGINT) AS max_gap_s
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, step LIMIT 10""".stripMargin) { (s, d) =>
      // One lag window (type + timestamp in the same pass), then a
      // |types|²-bounded aggregate of exact integer microsecond sums;
      // the mean divides once at emission.
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      graft.streaming.Streams.dwellFinish(Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          (expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w)).as("gap"))
        .filter(col("prev_type").isNotNull))
    },

    // Friendship paradox on the handoff graph: "your neighbors have
    // more connections than you" — the share of nodes whose mean
    // neighbor degree exceeds their own, plus both averages. The
    // sampling-bias readout that explains why degree-weighted sampling
    // overestimates connectivity.
    Q("q_graph_17_neighbor_degree",
      """WITH e0 AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 100 = 0),
        |b AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |dg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY 1),
        |nb AS (SELECT b.src AS node, CAST(sum(d2.deg) AS BIGINT) AS nbsum, CAST(count(*) AS BIGINT) AS nbn
        | FROM b JOIN dg d2 ON b.dst = d2.node GROUP BY 1),
        |nq AS (SELECT node, nbsum, nbn,
        |  CAST(floor(CAST(nbsum AS DOUBLE) * 1000 / nbn + 0.5) AS BIGINT) AS mq FROM nb)
        |SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        | floor(CAST(sum(dg.deg) AS DOUBLE) / count(*) * 1000 + 0.5) / 1000 AS avg_deg,
        | floor(CAST(sum(nq.mq) AS DOUBLE) / count(*) / 1000 * 1000 + 0.5) / 1000 AS avg_nbr_deg,
        | floor(CAST(sum(CASE WHEN nq.nbsum > dg.deg * nq.nbn THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS paradox_share
        |FROM dg JOIN nq ON dg.node = nq.node""".stripMargin) { (s, d) =>
      // Degree table is |V|-sized and broadcasts onto the edge list;
      // the paradox comparison is the exact integer cross-multiply
      // nbsum > deg·nbn (no float threshold). Each node's neighbor
      // mean quantizes to a 1e-3 integer BEFORE the global sum (§2.12:
      // float summation order is engine-dependent; integer sums are
      // not), so avg_nbr_deg is a function of exact integers.
      // r14: the session-cached bidirected mod-100 list (identical
      // derivation, materialized once across the nine sharing queries)
      val b = graft.sources.SampledEdges.bidir(s, d, 100)
      val dg = b.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      val nb = b.join(broadcast(dg.select(col("node").as("dst2"), col("deg").as("d2"))),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("node2"))
        .agg(sum("d2").as("nbsum"), count(lit(1)).as("nbn"))
        .withColumn("mq",
          floor(col("nbsum").cast("double") * 1000 / col("nbn") + 0.5).cast("long"))
      dg.join(nb, col("node") === col("node2"))
        .agg(count(lit(1)).as("n_nodes"),
          (floor(sum("deg").cast("double") / count(lit(1)) * 1000 + 0.5) / 1000).as("avg_deg"),
          (floor(sum("mq").cast("double") / count(lit(1)) / 1000 * 1000 + 0.5) / 1000)
            .as("avg_nbr_deg"),
          (floor(sum(when(col("nbsum") > col("deg") * col("nbn"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) * 1000000 + 0.5) / 1000000).as("paradox_share"))
    },

    // Dedup method overlap: documents flagged by FULL-text exact dedup
    // vs 40-char prefix clustering — exact-dups are provably a subset
    // of prefix-dups, so n_exact_only must be 0 and the interesting
    // number is what prefix catches BEYOND exact (edited-tail
    // variants). The audit that justifies running the cheaper method
    // first in a pipeline.
    Q("q_dedup_27_method_overlap",
      """WITH ex AS (SELECT doc_id FROM documents
        |  WHERE text IN (SELECT text FROM documents GROUP BY text HAVING count(*) >= 2)),
        |pf AS (SELECT doc_id FROM documents
        |  WHERE substring(text, 1, 40) IN
        |   (SELECT substring(text, 1, 40) FROM documents GROUP BY 1 HAVING count(*) >= 2))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
        | (SELECT CAST(count(*) AS BIGINT) FROM pf) AS n_prefix,
        | (SELECT CAST(count(*) AS BIGINT) FROM ex WHERE doc_id IN (SELECT doc_id FROM pf)) AS n_both,
        | (SELECT CAST(count(*) AS BIGINT) FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM pf)) AS n_exact_only""".stripMargin) { (s, d) =>
      // Both flag sets derive from ONE scan's group sizes (window
      // count over the key), the overlap is a semi/anti join pair on
      // doc_id. n_exact_only == 0 is a structural invariant (same
      // text ⇒ same prefix) — a nonzero value would mean the dedup
      // keys disagree, which is exactly what the audit exists to
      // catch.
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        .localCheckpoint()
      def flagged(key: org.apache.spark.sql.Column) = {
        val wn = Window.partitionBy(key)
        docs.withColumn("__n", count(lit(1)).over(wn))
          .filter(col("__n") >= 2).select("doc_id")
      }
      val ex = flagged(col("text")).localCheckpoint()
      val pf = flagged(substring(col("text"), 1, 40)).localCheckpoint()
      val both = ex.join(pf.withColumnRenamed("doc_id", "d2"),
        col("doc_id") === col("d2"), "left_semi")
      val exOnly = ex.join(pf.withColumnRenamed("doc_id", "d2"),
        col("doc_id") === col("d2"), "left_anti")
      ex.agg(count(lit(1)).as("n_exact"))
        .crossJoin(pf.agg(count(lit(1)).as("n_prefix")))
        .crossJoin(both.agg(count(lit(1)).as("n_both")))
        .crossJoin(exOnly.agg(count(lit(1)).as("n_exact_only")))
    },

    // Linearly-weighted moving average (WMA-7, weights 1..7 newest-
    // heaviest) vs the plain SMA-7 on daily purchase revenue — WMA
    // leads SMA on trends (the lag/noise trade every charting stack
    // exposes); the crossing flag marks trend-turn days.
    Q("q_time_22_wma",
      """WITH dly AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |l AS (SELECT day, cents,
        |  lag(cents, 1) OVER w AS c1, lag(cents, 2) OVER w AS c2, lag(cents, 3) OVER w AS c3,
        |  lag(cents, 4) OVER w AS c4, lag(cents, 5) OVER w AS c5, lag(cents, 6) OVER w AS c6,
        |  CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS k
        | FROM dly WINDOW w AS (ORDER BY day))
        |SELECT CAST(day AS BIGINT) AS day,
        | floor((7 * cents + 6 * c1 + 5 * c2 + 4 * c3 + 3 * c4 + 2 * c5 + 1 * c6)
        |   / 28.0 / 100 * 100 + 0.5) / 100 AS wma,
        | floor((cents + c1 + c2 + c3 + c4 + c5 + c6) / 7.0 / 100 * 100 + 0.5) / 100 AS sma,
        | CAST(CASE WHEN (7 * cents + 6 * c1 + 5 * c2 + 4 * c3 + 3 * c4 + 2 * c5 + 1 * c6) * 7
        |   > (cents + c1 + c2 + c3 + c4 + c5 + c6) * 28 THEN 1 ELSE 0 END AS BIGINT) AS wma_above
        |FROM l WHERE k = 7 ORDER BY day""".stripMargin) { (s, d) =>
      // Seven explicit integer-weighted lags (exact BIGINT linear
      // combination — no float accumulates); the above/below flag is
      // the LCM cross-multiply 7·wmaNum > 28·smaNum, so the comparison
      // never touches a float at all.
      val dly = Tables(s, d, "events").filter(col("event_type") === "purchase")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      val w = Window.orderBy("day")
      val wk = Window.orderBy("day").rowsBetween(-6, 0)
      val l = dly.select(col("day"), col("cents"),
        lag("cents", 1).over(w).as("c1"), lag("cents", 2).over(w).as("c2"),
        lag("cents", 3).over(w).as("c3"), lag("cents", 4).over(w).as("c4"),
        lag("cents", 5).over(w).as("c5"), lag("cents", 6).over(w).as("c6"),
        count(lit(1)).over(wk).as("k"))
      val wmaNum = lit(7) * col("cents") + lit(6) * col("c1") + lit(5) * col("c2") +
        lit(4) * col("c3") + lit(3) * col("c4") + lit(2) * col("c5") + col("c6")
      val smaNum = col("cents") + col("c1") + col("c2") + col("c3") + col("c4") +
        col("c5") + col("c6")
      l.filter(col("k") === 7)
        .select(col("day").cast("long").as("day"),
          (floor(wmaNum / 28.0 / 100 * 100 + 0.5) / 100).as("wma"),
          (floor(smaNum / 7.0 / 100 * 100 + 0.5) / 100).as("sma"),
          when(wmaNum * 7 > smaNum * 28, 1L).otherwise(0L).as("wma_above"))
        .orderBy("day")
    },

    // Small-file compaction: a 16-way fragmented layout re-written to
    // 2 files with row conservation proven — the nightly maintenance
    // job every streaming-ingest table needs (open-file-per-partition
    // ingest fragments; query latency dies by a thousand footers).
    Q("q_sink_4_compaction",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows_in,
        | CAST(count(*) AS BIGINT) AS n_rows_out,
        | CAST(16 AS BIGINT) AS files_small, CAST(2 AS BIGINT) AS files_compacted
        |FROM orders""".stripMargin) { (s, d) =>
      // The write fan-out/fan-in is the declared semantics (16 and 2
      // are the query's constants, mirrored literally in the oracle);
      // the CHECK is row conservation across both rewrites, counted
      // from the final compacted layout. Cleanup after the eager
      // materialization.
      val base = s"${sys.props("java.io.tmpdir")}/graft_compact_${s.sparkContext.applicationId}"
      val small = s"$base/small"
      val compact = s"$base/compact"
      val o = Tables(s, d, "orders")
      o.repartition(16, col("o_orderkey")).write.mode("overwrite").parquet(small)
      val nIn = s.read.parquet(small).count()
      s.read.parquet(small).coalesce(2).write.mode("overwrite").parquet(compact)
      val out = s.read.parquet(compact)
        .agg(count(lit(1)).as("n_rows_out"))
        .select(lit(nIn).as("n_rows_in"), col("n_rows_out"),
          lit(16L).as("files_small"), lit(2L).as("files_compacted"))
        .localCheckpoint()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(base))
      out
    },

    // Honest 5-fold cross-validated stump selection: per fold, the
    // best threshold is chosen on the TRAIN folds' accuracy and scored
    // on the HELD-OUT fold — q_ml_9 picks its split on all data (an
    // optimistic estimate); the spread across folds here is the
    // stability the single number hides.
    Q("q_ml_11_cv_stump",
      """WITH e AS (SELECT ((event_id % 1000000007) * 2654435761) % 1000000007 % 5 AS fold,
        |  value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        | FROM events WHERE event_type IN ('purchase', 'view')),
        |g AS (SELECT e.fold, t.t, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN (e.value > t.t) = (e.pos = 1) THEN 1 ELSE 0 END) AS BIGINT) AS ok
        | FROM e, (SELECT unnest(range(10, 200, 10)) AS t) t GROUP BY 1, 2),
        |tot AS (SELECT t, CAST(sum(n) AS BIGINT) AS tn, CAST(sum(ok) AS BIGINT) AS tok FROM g GROUP BY 1),
        |tr AS (SELECT g.fold, g.t,
        |  CAST(floor(CAST(tot.tok - g.ok AS DOUBLE) / (tot.tn - g.n) * 1000000 + 0.5) AS BIGINT) AS tracc6,
        |  CAST(floor(CAST(g.ok AS DOUBLE) / g.n * 1000000 + 0.5) AS BIGINT) AS teacc6
        | FROM g JOIN tot ON g.t = tot.t),
        |best AS (SELECT fold, t, tracc6, teacc6,
        |  row_number() OVER (PARTITION BY fold ORDER BY tracc6 DESC, t) AS rk FROM tr)
        |SELECT CAST(fold AS BIGINT) AS fold, CAST(t AS BIGINT) AS threshold,
        | tracc6 / 1000000.0 AS train_acc, teacc6 / 1000000.0 AS test_acc
        |FROM best WHERE rk = 1 ORDER BY fold""".stripMargin) { (s, d) =>
      // ONE fact scan builds the (fold × threshold) accuracy lattice
      // (19-candidate grid broadcast); train accuracy per (fold, t) is
      // the COMPLEMENT identity tot − fold (no second scan); both
      // accuracies quantize to 1e-6 integers BEFORE the per-fold
      // argmax, so the winner can't flip on float noise.
      val e = Tables(s, d, "events")
        .filter(col("event_type").isin("purchase", "view"))
        .select(((pmod(col("event_id"), lit(1000000007L)) * 2654435761L) % 1000000007L % 5)
            .as("fold"),
          col("value"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val grid = s.range(1, 20).select((col("id") * 10).as("t"))
      val g = e.crossJoin(broadcast(grid))
        .groupBy("fold", "t")
        .agg(count(lit(1)).as("n"),
          sum(when((col("value") > col("t")) === (col("pos") === 1), 1L).otherwise(0L))
            .as("ok"))
        .localCheckpoint()
      val tot = g.groupBy("t").agg(sum("n").as("tn"), sum("ok").as("tok"))
      val tr = g.join(tot, "t")
        .select(col("fold"), col("t"),
          floor((col("tok") - col("ok")).cast("double") / (col("tn") - col("n"))
            * 1000000 + 0.5).cast("long").as("tracc6"),
          floor(col("ok").cast("double") / col("n") * 1000000 + 0.5).cast("long").as("teacc6"))
      val rk = Window.partitionBy("fold").orderBy(col("tracc6").desc, col("t"))
      tr.withColumn("rk", row_number().over(rk))
        .filter(col("rk") === 1)
        .select(col("fold").cast("long").as("fold"), col("t").cast("long").as("threshold"),
          (col("tracc6") / 1000000.0).as("train_acc"),
          (col("teacc6") / 1000000.0).as("test_acc"))
        .orderBy("fold")
    }
  )
}
