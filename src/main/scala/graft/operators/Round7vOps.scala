package graft.operators

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-7 continuation (SURVEY §2.11bv): structure wave — double-BFS
  * diameter bound, hourly-load capacity percentiles, struct-typed join
  * keys, the json_tuple generator round trip, and the blob page
  * manifest.
  *
  * Determinism discipline (§2.12): percentiles are type-1 rank picks;
  * the sweep's far-node pick breaks distance ties by node id; page
  * arithmetic is pure integer ceiling division.
  */
object Round7vOps {

  val all: Seq[Q] = Seq(

    // Double-BFS sweep: BFS from the min node, hop to the FARTHEST
    // reached node (ties by id), BFS again — the classic two-sweep
    // lower bound on graph diameter, and the standard cheap probe
    // before committing to all-pairs work. Same sampled handoff graph
    // and frontier machinery as q_graph_6.
    Q("q_graph_25_diameter_sweep",
      """WITH RECURSIVE e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 200 = 0),
        |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |nodes AS (SELECT DISTINCT src AS node FROM bidir),
        |s AS (SELECT min(node) AS root FROM nodes),
        |w1(node, d) AS (
        |  SELECT root, 0 FROM s
        |  UNION
        |  SELECT b.dst, w.d + 1 FROM w1 w JOIN bidir b ON b.src = w.node WHERE w.d < 40),
        |d1 AS (SELECT node, min(d) AS dist FROM w1 GROUP BY node),
        |u AS (SELECT node FROM d1 ORDER BY dist DESC, node LIMIT 1),
        |w2(node, d) AS (
        |  SELECT node, 0 FROM u
        |  UNION
        |  SELECT b.dst, w.d + 1 FROM w2 w JOIN bidir b ON b.src = w.node WHERE w.d < 40),
        |d2 AS (SELECT node, min(d) AS dist FROM w2 GROUP BY node)
        |SELECT CAST((SELECT node FROM u) AS BIGINT) AS sweep_root,
        | CAST((SELECT max(dist) FROM d1) AS BIGINT) AS ecc_from_min,
        | CAST(max(dist) AS BIGINT) AS diameter_lb,
        | CAST(count(*) AS BIGINT) AS n_reached
        |FROM d2""".stripMargin) { (s, d) =>
      // Two bfsDistances passes: the first from the min-id root the BFS
      // picks itself; the far-node pick between them is one O(1-row)
      // driver action.
      val edges = graft.sources.SampledEdges.handoff(s, d, 200)
      val d1 = graft.api.Pipelines
        .bfsDistances(edges, "src", "dst", "node", maxIters = 40)
        .localCheckpoint()
      val far = d1.orderBy(col("dist").desc, col("node")).head()
      val (sweepRoot, ecc1) = (far.getLong(0), far.getLong(1))
      val d2 = graft.api.Pipelines
        .bfsDistances(edges, "src", "dst", "node", Some(sweepRoot), maxIters = 40)
      d2.agg(max(col("dist")).as("diameter_lb"), count(lit(1)).as("n_reached"))
        .select(lit(sweepRoot).as("sweep_root"), lit(ecc1).as("ecc_from_min"),
          col("diameter_lb"), col("n_reached"))
    },

    // Hourly-load capacity percentiles: p50/p90/p99 of events per hour
    // plus the peak-to-median ratio — the table a capacity planner
    // reads before sizing executors. Type-1 rank picks over the
    // calendar-bounded hour series; one division at emission.
    Q("q_stream_42_load_percentiles",
      """WITH h AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS hr,
        |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n, hr) AS rn,
        |  count(*) OVER () AS nh FROM h)
        |SELECT CAST(max(nh) AS BIGINT) AS n_hours,
        | CAST(max(CASE WHEN rn = (nh + 1) // 2 THEN n END) AS BIGINT) AS p50,
        | CAST(max(CASE WHEN rn = (9 * nh + 9) // 10 THEN n END) AS BIGINT) AS p90,
        | CAST(max(CASE WHEN rn = (99 * nh + 99) // 100 THEN n END) AS BIGINT) AS p99,
        | CAST(max(n) AS BIGINT) AS peak,
        | floor(CAST(max(n) AS DOUBLE)
        |   / max(CASE WHEN rn = (nh + 1) // 2 THEN n END) * 1000000 + 0.5) / 1000000 AS peak_over_p50
        |FROM r""".stripMargin) { (s, d) =>
      graft.streaming.Streams.loadPercentilesFinish(Tables(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n")))
    },

    // Struct-typed join keys: the composite (orderkey, linenumber) key
    // joined AS ONE STRUCT column — the Dataset-idiomatic form of a
    // multi-column key (groupBy(struct), join(struct)). Semantics are
    // exactly the two-column equality the oracle writes out.
    Q("q_join_25_struct_key",
      """WITH l AS (SELECT l_orderkey, l_linenumber, l_returnflag,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'R'),
        |r AS (SELECT l_orderkey, l_linenumber, l_linestatus FROM lineitem
        | WHERE l_linestatus = 'F')
        |SELECT l.l_returnflag, r.l_linestatus, CAST(count(*) AS BIGINT) AS n_matched,
        | CAST(sum(l.qty) AS BIGINT) AS sum_qty
        |FROM l JOIN r ON l.l_orderkey = r.l_orderkey AND l.l_linenumber = r.l_linenumber
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // NOTE (FIXTURES.md): (orderkey, linenumber) is NOT unique (~20%
      // collide), so the join is genuinely many-to-many — the struct
      // key must reproduce the full pair multiplicity, not a distinct
      // match.
      val li = Tables(s, d, "lineitem")
      val l = li.filter(col("l_returnflag") === "R")
        .select(struct(col("l_orderkey"), col("l_linenumber")).as("k"),
          col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      val r = li.filter(col("l_linestatus") === "F")
        .select(struct(col("l_orderkey"), col("l_linenumber")).as("k2"),
          col("l_linestatus"))
      l.join(r, col("k") === col("k2"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_matched"), sum("qty").as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // json_tuple — the multi-path JSON generator: three fields pulled
    // from an engine-written JSON doc in ONE generator pass (vs three
    // get_json_object scans). Values must invert the construction.
    Q("q_udtf_5_json_tuple",
      """WITH j AS (SELECT event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc, user_id FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(vc) AS BIGINT) AS sum_cents,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val j = Tables(s, d, "events")
        .select(to_json(struct(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"),
          col("user_id"))).as("js"))
      j.select(json_tuple(col("js"), "event_type", "vc", "user_id")
          .as(Seq("et", "vc", "uid")))
        .groupBy(col("et").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("vc").cast("long")).as("sum_cents"),
          countDistinct(col("uid")).as("n_users"))
        .orderBy("event_type")
    },

    // Blob page manifest: every payload chunked into 64-byte pages —
    // (pages, last-page fill) per source — the object-store chunk
    // table a multimodal lake keeps beside its blobs. Pure integer
    // ceiling division; no page content ships.
    Q("q_mm_13_page_manifest",
      """WITH b AS (SELECT source, octet_length(encode(text)) AS len FROM documents),
        |p AS (SELECT source, len, (len + 63) // 64 AS n_pages,
        |  len - ((len + 63) // 64 - 1) * 64 AS last_fill FROM b)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_pages) AS BIGINT) AS total_pages,
        | CAST(max(n_pages) AS BIGINT) AS max_pages,
        | CAST(sum(last_fill) AS BIGINT) AS sum_last_fill,
        | CAST(sum(n_pages) * 64 - sum(len) AS BIGINT) AS padding_bytes
        |FROM p GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val b = Tables(s, d, "documents")
        .select(col("source"), length(encode(col("text"), "UTF-8")).cast("long").as("len"))
      val p = b.select(col("source"), col("len"),
        expr("(len + 63) div 64").as("n_pages"))
        .withColumn("last_fill", col("len") - (col("n_pages") - 1) * 64)
      p.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_pages").as("total_pages"),
          max("n_pages").as("max_pages"),
          sum("last_fill").as("sum_last_fill"),
          (sum("n_pages") * 64 - sum("len")).as("padding_bytes"))
        .orderBy("source")
    }
  )
}
