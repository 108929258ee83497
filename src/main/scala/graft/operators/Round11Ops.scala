package graft.operators

import graft.Q
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-11 surface additions (SURVEY §2.11cb): the round's machinery
  * exposed as oracle-checked capability, following the r8–r10 pattern —
  * the component-size histogram (the skew-hardened connectedComponents
  * rewrite, read out as a distribution instead of q_graph_22's
  * max-pick), OHLC bar-to-bar gaps (the min_by/max_by bar machinery the
  * tranche-4 streaming twin runs incrementally), and the empirical LSH
  * S-curve (the banded candidate generator measured as
  * P(candidate | similarity), the tuning readout behind q_dedup_10's
  * single precision/recall point).
  *
  * Determinism discipline (§2.12): component labels, bar cents and
  * candidate counts are exact integers; ratios quantize 1e-6 at
  * emission; every query ends in a total ORDER BY.
  */
object Round11Ops {

  val all: Seq[Q] = Seq(

    // Component-size histogram of the sampled handoff graph — the
    // robustness DISTRIBUTION behind q_graph_22's single largest-
    // component number (a graph of many small islands and one giant
    // reads identically in `largest` but very differently here). Runs
    // the large-star/small-star CC on its skew-hardened groupBy+join
    // path (r11); sizes and node shares are exact integers.
    Q("q_graph_27_comp_sizes",
      s"""WITH RECURSIVE b AS (${Round7eOps.duckBidir(200)}),
         |nodes AS (SELECT DISTINCT src AS node FROM b),
         |walk(node, label) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT b.dst, w.label FROM walk w JOIN b ON b.src = w.node),
         |c AS (SELECT node, min(label) AS comp FROM walk GROUP BY node),
         |s AS (SELECT comp, CAST(count(*) AS BIGINT) AS csize FROM c GROUP BY comp),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM c)
         |SELECT csize AS component_size,
         | CAST(count(*) AS BIGINT) AS n_components,
         | CAST(csize * count(*) AS BIGINT) AS n_nodes,
         | floor(CAST(csize * count(*) AS DOUBLE) / max(t.n_total) * 1000000 + 0.5) / 1000000 AS node_share
         |FROM s, t GROUP BY csize ORDER BY csize""".stripMargin) { (s, d) =>
      // CC over the mod-200 sampled bidirected edge list (q_graph_4's
      // precedent: genuinely disconnected), then two keyed aggregates —
      // component→size, size→count. The histogram is bounded by the
      // largest component; nothing here is pair-shaped.
      // r14: the session-cached bidirected mod-200 list (identical
      // derivation, materialized once; q_graph_22 shares it)
      val b = graft.sources.SampledEdges.bidir(s, d, 200)
      val nodes = b.select(col("src").as("node")).distinct()
      val cc = graft.api.Pipelines.connectedComponents(nodes, "node", b, "src", "dst")
      val sizes = cc.groupBy("component").agg(count(lit(1)).as("csize"))
      val tot = sizes.agg(sum("csize").as("n_total"))
      sizes.groupBy("csize").agg(count(lit(1)).as("n_components"))
        .crossJoin(broadcast(tot))
        .select(col("csize").as("component_size"), col("n_components"),
          (col("csize") * col("n_components")).cast("long").as("n_nodes"),
          Num.round((col("csize") * col("n_components")).cast("double") / col("n_total"), 6)
            .as("node_share"))
        .orderBy("component_size")
    },

    // Bar-to-bar gaps over the q_time_3 OHLC resampling: previous
    // close → next open per event type, in exact cents — the gap/jump
    // series risk models feed on (a resampler that only reports bars
    // hides exactly this). open/close come from min_by/max_by over the
    // (ts, event_id) total order — the SAME mergeable aggregates the
    // tranche-4 streaming twin runs incrementally, so this query is the
    // batch contract for that path (vs q_time_3's rank-window form).
    Q("q_time_30_bar_gaps",
      """WITH r AS (
        | SELECT event_type, time_bucket(INTERVAL '6 hours', ts::TIMESTAMP) AS bar, value,
        |  row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts::TIMESTAMP)
        |   ORDER BY ts, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts::TIMESTAMP)
        |   ORDER BY ts DESC, event_id DESC) AS rn_d
        | FROM events),
        |bars AS (SELECT event_type, bar,
        |  CAST(floor(max(CASE WHEN rn_a = 1 THEN value END) * 100 + 0.5) AS BIGINT) AS open_c,
        |  CAST(floor(max(CASE WHEN rn_d = 1 THEN value END) * 100 + 0.5) AS BIGINT) AS close_c
        | FROM r GROUP BY 1, 2),
        |g AS (SELECT event_type, bar, open_c,
        |  lag(close_c) OVER (PARTITION BY event_type ORDER BY bar) AS prev_close
        | FROM bars)
        |SELECT event_type, bar,
        | CAST(open_c - prev_close AS BIGINT) AS gap_cents,
        | CAST(open_c - prev_close AS DOUBLE) / 100 AS gap
        |FROM g WHERE prev_close IS NOT NULL
        |ORDER BY event_type, bar""".stripMargin) { (s, d) =>
      // Per-row cents BEFORE the min_by/max_by picks (selection is by
      // (ts, event_id), not value, so quantize-then-pick equals the
      // oracle's pick-then-quantize); the lag runs per event type over
      // the BAR table — calendar-bounded rows per partition, catalog-
      // bounded partitions, never the event stream.
      val vc = floor(col("value") * 100 + 0.5).cast("long")
      graft.streaming.Streams.barGapsFinish(Tables(s, d, "events")
        .select(col("event_type"), window(col("ts"), "6 hours").as("w"),
          col("ts"), col("event_id"), vc.as("vcents"))
        .groupBy(col("event_type"), col("w"))
        .agg(min_by(col("vcents"), struct(col("ts"), col("event_id"))).as("open_c"),
          max_by(col("vcents"), struct(col("ts"), col("event_id"))).as("close_c"))
        .select(col("event_type"), col("w.start").as("bar"),
          col("open_c"), col("close_c")))
    },

    // Empirical LSH S-curve: P(candidate | Jaccard bin) for the 4×4
    // MinHash band scheme over the doc_id<100 eval slice — the WHOLE
    // tuning curve behind q_dedup_10's single (precision, recall)
    // point: the theory says P = 1-(1-s⁴)⁴; this measures it on real
    // signatures, bin by bin, so a band/row change is judged against
    // the curve it actually produces, not the formula.
    Q("q_dedup_33_lsh_scurve",
      s"""WITH ${TextOps.duckLshBands},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |          ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
         |       FROM documents WHERE doc_id < 100),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jac
         | FROM ts a JOIN ts b ON a.doc_id < b.doc_id),
         |bin AS (SELECT least(CAST(floor(jac * 10) AS BIGINT), 9) AS jbin,
         |  CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS isc
         | FROM pairs p LEFT JOIN cand c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b)
         |SELECT jbin AS jaccard_bin, CAST(count(*) AS BIGINT) AS n_pairs,
         | CAST(sum(isc) AS BIGINT) AS n_candidates,
         | floor(CAST(sum(isc) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS candidate_rate
         |FROM bin GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // Candidate set from the SAME banded generator every LSH query
      // uses (TextOps.lshBandKeys); the exact-Jaccard side is the
      // q_dedup_10 demonstration bound (constant doc_id<100 slice —
      // 4950 pairs at any SF; at 100 TB the curve comes from a labeled
      // sample, never all-pairs). Bin membership is a ratio of small
      // exact integers, identical doubles on both engines.
      val docs = Tables(s, d, "documents").filter(col("doc_id") < 100)
      val bands = TextOps.lshBandKeys(docs)
      val cand = bands.select(col("doc_id").as("doc_a"), col("j"), col("band_key")).as("a")
        .join(bands.select(col("doc_id").as("doc_b"), col("j").as("j2"),
            col("band_key").as("band_key2")),
          col("j") === col("j2") && col("band_key") === col("band_key2")
            && col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val ts = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenSet(col("text")).as("s"))
      val pairs = ts.as("x").join(ts.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          (size(array_intersect(col("x.s"), col("y.s"))).cast("double")
            / size(array_distinct(concat(col("x.s"), col("y.s"))))).as("jac"))
      val binned = pairs.join(cand.withColumn("isc", lit(1)), Seq("doc_a", "doc_b"), "left")
        .select(least(floor(col("jac") * 10).cast("long"), lit(9L)).as("jbin"),
          coalesce(col("isc"), lit(0)).as("isc"))
      binned.groupBy("jbin")
        .agg(count(lit(1)).as("n_pairs"), sum("isc").cast("long").as("n_candidates"))
        .select(col("jbin").as("jaccard_bin"), col("n_pairs"), col("n_candidates"),
          Num.round(col("n_candidates").cast("double") / col("n_pairs"), 6)
            .as("candidate_rate"))
        .orderBy("jaccard_bin")
    }
  )
}
