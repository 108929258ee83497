package graft.operators

import graft.Q
import graft.expressions.VectorExpressions
import graft.functions.TextFunctions._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num.round

/** Round-2 inventory additions (SURVEY §2.11c): graph operators over a
  * fact-derived edge list, training-data chunking/packing, exact heavy
  * hitters, windowed top-k, ANN recall evaluation, and split-drift
  * measurement. Same conventions as every other declared query: paired
  * DuckDB oracle, total output order, engine-neutral rounding.
  */
object Round2Ops {

  /** Supplier "handoff" edge list: within an order, consecutive line
    * numbers link their suppliers (src → dst). Derived purely from the
    * lineitem fact — the repo's stand-in for a real edge table.
    */
  private[operators] def handoffEdges(li: DataFrame): DataFrame = {
    val a = li.select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      col("l_suppkey").as("src"))
    val b = li.select(col("l_orderkey").as("ok2"), col("l_linenumber").as("ln2"),
      col("l_suppkey").as("dst"))
    a.join(b, col("ok") === col("ok2") && (col("ln") + 1) === col("ln2"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
  }

  private[operators] val duckEdges =
    """SELECT a.l_suppkey AS src, b.l_suppkey AS dst
      | FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
      | WHERE a.l_suppkey <> b.l_suppkey""".stripMargin

  val all: Seq[Q] = Seq(

    Q("q_graph_1_edges",
      s"""SELECT src, dst, count(*) AS weight
         |FROM ($duckEdges)
         |GROUP BY src, dst ORDER BY weight DESC, src, dst LIMIT 50""".stripMargin) { (s, d) =>
      // Edge-list construction + weighting: the self-join is an equi hash
      // join on (orderkey, linenumber+1) — Catalyst extracts the arithmetic
      // equality as a join key, no nested loop. At 100 TB the fact is
      // date-partitioned and the self-join co-partitions on orderkey.
      handoffEdges(Tables(s, d, "lineitem"))
        .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
        .orderBy(col("weight").desc, col("src"), col("dst")).limit(50)
    },

    Q("q_graph_2_pagerank",
      s"""WITH e AS (SELECT DISTINCT src, dst FROM ($duckEdges)),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
         |d1 AS (SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm FROM r0
         |       WHERE node NOT IN (SELECT src FROM od)),
         |c1 AS (SELECT e.dst, sum(r.rank / od.outdeg) AS inr
         |       FROM e JOIN r0 r ON e.src = r.node JOIN od ON e.src = od.src GROUP BY e.dst),
         |r1 AS (SELECT node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         |        + CAST(0.85 AS DOUBLE) * (coalesce(inr, CAST(0 AS DOUBLE))
         |          + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
         |       FROM nodes LEFT JOIN c1 ON node = c1.dst),
         |d2 AS (SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm FROM r1
         |       WHERE node NOT IN (SELECT src FROM od)),
         |c2 AS (SELECT e.dst, sum(r.rank / od.outdeg) AS inr
         |       FROM e JOIN r1 r ON e.src = r.node JOIN od ON e.src = od.src GROUP BY e.dst),
         |r2 AS (SELECT node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         |        + CAST(0.85 AS DOUBLE) * (coalesce(inr, CAST(0 AS DOUBLE))
         |          + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
         |       FROM nodes LEFT JOIN c2 ON node = c2.dst),
         |d3 AS (SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS dm FROM r2
         |       WHERE node NOT IN (SELECT src FROM od)),
         |c3 AS (SELECT e.dst, sum(r.rank / od.outdeg) AS inr
         |       FROM e JOIN r2 r ON e.src = r.node JOIN od ON e.src = od.src GROUP BY e.dst),
         |r3 AS (SELECT node, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         |        + CAST(0.85 AS DOUBLE) * (coalesce(inr, CAST(0 AS DOUBLE))
         |          + (SELECT dm FROM d3) / (SELECT n FROM nn)) AS rank
         |       FROM nodes LEFT JOIN c3 ON node = c3.dst)
         |SELECT node, floor(rank * 1000000 + 0.5) / 1000000 AS rank
         |FROM r3 ORDER BY floor(rank * 1000000 + 0.5) / 1000000 DESC, node LIMIT 20""".stripMargin) { (s, d) =>
      // PageRank (damping 0.85, 3 fixed iterations, WITH dangling-node
      // mass redistribution) over the distinct handoff edges, via the
      // one canonical implementation in graft.api.Pipelines.pageRank —
      // which localCheckpoints the iteration-invariant edges/nodes/
      // outdeg (the round-2 unrolled form re-derived the fact-table
      // self-join 4× in one 368-node plan) and truncates rank lineage
      // per round. tol=0 keeps the loop fully declarative to match the
      // unrolled DuckDB CTE oracle above; GraphSpec pins Σ rank ≈ 1 per
      // iteration and the single-scan plan shape. Ordering is on the
      // ROUNDED rank (both engines agree on ties).
      // edge input from the session-scoped derived-edge cache (r14 —
      // SampledEdges.handoff at mod 1 IS handoffEdges(lineitem).distinct(),
      // the same derivation five graph queries were each re-running;
      // one materialization per session, the SampledEdges adjudication)
      val rank = graft.api.Pipelines.pageRank(
        graft.sources.SampledEdges.handoff(s, d, 1), "src", "dst",
        damping = 0.85, maxIters = 3, tol = 0.0)
      rank.select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20)
    },

    Q("q_text_14_chunk",
      """SELECT doc_id, chunk_id, CAST(len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT) AS n_toks,
        | md5(array_to_string(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')) AS chunk_md5
        |FROM (
        | SELECT doc_id, string_split(text, ' ') AS toks,
        |  unnest(range(0, (len(string_split(text, ' ')) - 1) // 24 + 1)) AS chunk_id
        | FROM documents)
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      graft.api.Pipelines.chunk(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id", "chunk_id")
    },

    Q("q_text_15_pack",
      """WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM d)
        |SELECT lang, CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin) { (s, d) =>
      // Sequence packing for training batches: pack sizes per language.
      graft.api.Pipelines.pack(Tables(s, d, "documents"), "doc_id", "text", "lang")
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("pack_tokens"))
        .orderBy("lang", "pack_id")
    },

    Q("q_agg_18_heavyhitters",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t)
        |SELECT tok, count(*) AS cnt,
        | floor((count(*) / (SELECT n FROM tot)) * 1000000 + 0.5) / 1000000 AS freq
        |FROM t GROUP BY tok HAVING count(*) > (SELECT n FROM tot) / 200
        |ORDER BY cnt DESC, tok""".stripMargin) { (s, d) =>
      graft.api.Pipelines.heavyHitters(Tables(s, d, "documents"), "text")
        .orderBy(col("cnt").desc, col("tok"))
    },

    Q("q_stream_8_topk_window",
      """WITH w AS (
        | SELECT time_bucket(INTERVAL '6 hours', ts::TIMESTAMP) AS win_start, event_type, count(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT win_start, event_type, n, CAST(rk AS BIGINT) AS rk FROM (
        | SELECT win_start, event_type, n,
        |  row_number() OVER (PARTITION BY win_start ORDER BY n DESC, event_type) AS rk
        | FROM w)
        |WHERE rk <= 2 ORDER BY win_start, rk""".stripMargin) { (s, d) =>
      // Windowed top-k: the trending-items shape (per 6h window, 2 most
      // frequent event types). The rank runs over the already-aggregated
      // (window × type) table — tiny — and Spark plans the rk<=2 filter
      // as WindowGroupLimit (per-partition heaps, no full sort of the
      // aggregate). Streaming twin: the same agg under readStream with
      // the rank in foreachBatch.
      graft.streaming.Streams.rankTopK(
          graft.streaming.Streams.topkPerWindow(Tables(s, d, "events")), 2)
        .orderBy("win_start", "rk")
    },

    Q("q_sim_11_recall",
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |assign AS (
         | SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id ORDER BY ${graft.functions.VectorFunctions.Duck.sqDist("e.embedding", "c.cvec")}, c.cid) AS rn
         |  FROM embeddings e, cents c) WHERE rn = 1),
         |probe AS (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0),
         |pcell AS (SELECT cid AS pcid FROM assign WHERE vec_id = 0),
         |brute AS (SELECT vec_id FROM (
         | SELECT e.vec_id, row_number() OVER (ORDER BY ${graft.functions.VectorFunctions.Duck.cosine("e.embedding", "p.pvec")} DESC, e.vec_id) AS rk
         | FROM embeddings e, probe p WHERE e.vec_id <> 0) WHERE rk <= 5),
         |ivf AS (SELECT vec_id FROM (
         | SELECT e.vec_id, row_number() OVER (ORDER BY ${graft.functions.VectorFunctions.Duck.cosine("e.embedding", "p.pvec")} DESC, e.vec_id) AS rk
         | FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, probe p, pcell
         | WHERE a.cid = pcell.pcid AND e.vec_id <> 0) WHERE rk <= 5)
         |SELECT CAST((SELECT count(*) FROM brute JOIN ivf USING (vec_id)) AS BIGINT) AS n_hit,
         | floor((CAST((SELECT count(*) FROM brute JOIN ivf USING (vec_id)) AS DOUBLE) / 5) * 1000000 + 0.5) / 1000000 AS recall_at_5""".stripMargin) { (s, d) =>
      // ANN quality evaluation: recall@5 of single-probe IVF (fixed
      // 8-centroid quantizer, q_sim_4's index) against the brute-force
      // ground truth — the metric that decides nprobe/k tradeoffs before
      // a 100 TB index build. Both rankings are top-5 heaps over one
      // corpus scan each; the recall join is 5×5.
      VectorExpressions.register(s)
      val e = Tables(s, d, "embeddings")
      val packed = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cs"))
        .select(transform(col("cs"), _.getField("cid")).as("cids"),
          transform(col("cs"), _.getField("cvec")).as("cvecs"))
      val withCell = e.crossJoin(broadcast(packed))
        .withColumn("cid", element_at(col("cids"), expr("argmin_sqdist(embedding, cvecs)") + 1))
        .select(col("vec_id"), col("embedding"), col("cid"))
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pvec"))
      val pcell = withCell.filter(col("vec_id") === 0).select(col("cid").as("pcid"))
      val brute = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id"), expr("cosine_similarity(embedding, pvec)").as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(5).select("vec_id")
      val ivf = withCell.join(broadcast(pcell), col("cid") === col("pcid"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), expr("cosine_similarity(embedding, pvec)").as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(5).select("vec_id")
      brute.join(ivf, Seq("vec_id"))
        .agg(count(lit(1)).as("n_hit"))
        .select(col("n_hit"), round(col("n_hit").cast("double") / 5, 6).as("recall_at_5"))
    },

    Q("q_text_16_bigram_lm",
      """WITH b AS (
        | SELECT doc_id, struct_extract(p, 1) AS w1, struct_extract(p, 2) AS w2 FROM (
        |  SELECT doc_id, unnest(list_zip(
        |    list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1),
        |    list_slice(string_split(text, ' '), 2, len(string_split(text, ' '))))) AS p
        |  FROM documents)),
        |lm AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM b GROUP BY w1, w2),
        |uni AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM b GROUP BY w1)
        |SELECT b.doc_id,
        | count(*) AS n_bigrams,
        | floor((sum(lm.c12 / uni.c1) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_bigram_p
        |FROM b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2 JOIN uni ON b.w1 = uni.w1
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, d) =>
      // Bigram language-model fluency score: train a corpus-wide bigram
      // MLE (c(w1,w2)/c(w1·)) and score each document by its mean bigram
      // conditional probability — the log-free cousin of perplexity
      // filtering (no cross-engine libm-log drift; the ordering of docs
      // is the same signal). Two aggregates over the exploded bigram
      // stream + one re-join. NO broadcast() hints on the LM tables: a
      // post-tokenizer vocab is bounded (broadcastable), but raw 100 TB
      // text has an unbounded "vocab" of typos/URLs, so the safe form
      // lets AQE pick broadcast from the MEASURED aggregate size and
      // degrade to a shuffle join when the LM outgrows the driver —
      // Round2OpsSpec pins that AQE still broadcasts at this scale.
      val toks = tokens(col("text"))
      val big = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(arrays_zip(
            slice(toks, lit(1), size(toks) - 1).as("w1"),
            slice(toks, lit(2), size(toks) - 1).as("w2"))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      val lm = big.groupBy("w1", "w2").agg(count(lit(1)).cast("double").as("c12"))
      // unigram counts roll up from the LM table (Σ_w2 c12 = c1, exact:
      // integer-valued doubles < 2^53) — deriving them from the bigram
      // stream again would cost another full scan+explode pass
      val uni = lm.groupBy("w1").agg(sum("c12").as("c1"))
        .withColumnRenamed("w1", "u1")
      big.join(lm, Seq("w1", "w2"))
        .join(uni, col("w1") === col("u1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("c12") / col("c1")) / count(lit(1)), 6).as("avg_bigram_p"))
        .orderBy("doc_id")
    },

    Q("q_graph_3_twohop",
      s"""WITH e AS (SELECT DISTINCT src, dst FROM ($duckEdges)),
         |seeds AS (SELECT DISTINCT src FROM e WHERE src < 5),
         |hop1 AS (SELECT s.src AS seed, e.dst AS node FROM seeds s JOIN e ON e.src = s.src),
         |hop2 AS (SELECT h.seed, e2.dst AS node FROM hop1 h JOIN e e2 ON e2.src = h.node),
         |reach AS (SELECT seed, node FROM hop1 UNION SELECT seed, node FROM hop2)
         |SELECT seed, count(*) AS n_reachable
         |FROM reach WHERE node <> seed GROUP BY seed ORDER BY seed""".stripMargin) { (s, d) =>
      // Bounded multi-hop traversal: distinct nodes reachable from each
      // seed in ≤2 hops (the neighborhood-expansion primitive under
      // friend-of-friend / related-items queries). Each hop is one equi
      // join seed-frontier ⋈ edges — frontier-sized, never |E|² — and
      // the UNION dedups the reach set; unbounded traversal is the
      // iterative min-label loop q_dedup_7 already ships. The edge list
      // is referenced three times (seeds, hop1, hop2) — localCheckpoint
      // materializes the fact-table self-join ONCE instead of
      // re-deriving it per reference (GraphSpec pins the single scan).
      // r14: the session-scoped cache (mod 1) IS this exact derivation —
      // distinct handoff edges, localCheckpointed once per session
      val edges = graft.sources.SampledEdges.handoff(s, d, 1)
      val seeds = edges.filter(col("src") < 5).select(col("src").as("seed")).distinct()
      val hop1 = seeds.join(edges, col("src") === col("seed"))
        .select(col("seed"), col("dst").as("node"))
      val hop2 = hop1.select(col("seed"), col("node").as("mid"))
        .join(edges.select(col("src").as("mid2"), col("dst")), col("mid") === col("mid2"))
        .select(col("seed"), col("dst").as("node"))
      hop1.union(hop2).distinct()
        .filter(col("node") =!= col("seed"))
        .groupBy("seed").agg(count(lit(1)).as("n_reachable"))
        .orderBy("seed")
    },

    Q("q_dq_8_mad_outliers",
      """WITH med AS (
        | SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
        | FROM orders GROUP BY o_orderpriority),
        |dev AS (
        | SELECT o.o_orderpriority, o.o_totalprice, m.med, abs(o.o_totalprice - m.med) AS adev
        | FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority),
        |mad AS (
        | SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY o_orderpriority)
        |SELECT d.o_orderpriority,
        | floor(d.med * 100 + 0.5) / 100 AS med,
        | floor(m.mad * 100 + 0.5) / 100 AS mad,
        | CAST(count(CASE WHEN d.adev > 3 * CAST(1.4826 AS DOUBLE) * m.mad THEN 1 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m ON d.o_orderpriority = m.o_orderpriority
        |GROUP BY d.o_orderpriority, d.med, m.mad ORDER BY d.o_orderpriority""".stripMargin) { (s, d) =>
      // Robust outlier screen: median absolute deviation per group with
      // the 1.4826 normal-consistency constant — the robust twin of
      // q_dq_4's z-score (one extreme value cannot drag the threshold).
      // Two exact-percentile aggregates with the group medians broadcast
      // back between them; at scale the exact median becomes
      // approx_percentile with the same plan shape.
      val o = Tables(s, d, "orders")
      val med = o.groupBy("o_orderpriority")
        .agg(percentile(col("o_totalprice"), lit(0.5)).as("med"))
      val dev = o.join(broadcast(med), Seq("o_orderpriority"))
        .withColumn("adev", abs(col("o_totalprice") - col("med")))
      val mad = dev.groupBy("o_orderpriority")
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
        .withColumnRenamed("o_orderpriority", "mp")
      dev.join(broadcast(mad), col("o_orderpriority") === col("mp"))
        .groupBy("o_orderpriority", "med", "mad")
        .agg(count(when(col("adev") > lit(3) * 1.4826 * col("mad"), 1)).as("n_outliers"))
        .select(col("o_orderpriority"), round(col("med"), 2).as("med"),
          round(col("mad"), 2).as("mad"), col("n_outliers"))
        .orderBy("o_orderpriority")
    },

    Q("q_join_14_salted",
      """SELECT s_name, floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100 AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin) { (s, d) =>
      // Salted skew join as a declared operator: the fact side gets a
      // deterministic 8-way salt (hash of its unique row key), the
      // supplier dim is replicated 8x, and the join key becomes
      // (suppkey, salt) — each hot key's rows spread across 8 reducers.
      // Results are identical to the plain join (the oracle IS the plain
      // join); this is the pathological-hot-key escape hatch when AQE's
      // skew splitting can't shrink a single build-side key.
      val li = Tables(s, d, "lineitem")
      val sup = Tables(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.functions.Skew.saltedJoin(li, sup, "l_suppkey", 8,
        Seq("l_orderkey", "l_linenumber", "l_extendedprice"))
        .groupBy("s_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("s_name")
    },

    Q("q_time_3_ohlc",
      """WITH r AS (
        | SELECT event_type, time_bucket(INTERVAL '6 hours', ts::TIMESTAMP) AS bar, value,
        |  row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts::TIMESTAMP)
        |   ORDER BY ts, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL '6 hours', ts::TIMESTAMP)
        |   ORDER BY ts DESC, event_id DESC) AS rn_d
        | FROM events)
        |SELECT event_type, bar,
        | floor((max(CASE WHEN rn_a = 1 THEN value END)) * 100 + 0.5) / 100 AS open,
        | floor((max(value)) * 100 + 0.5) / 100 AS high,
        | floor((min(value)) * 100 + 0.5) / 100 AS low,
        | floor((max(CASE WHEN rn_d = 1 THEN value END)) * 100 + 0.5) / 100 AS close,
        | count(*) AS n
        |FROM r GROUP BY event_type, bar ORDER BY event_type, bar""".stripMargin) { (s, d) =>
      // Time-series resampling to OHLC bars (6 h, per event type): open =
      // first value in the bar, close = last, by (ts, event_id) — the
      // unique tie-break the fixture guarantees. Two ranking windows over
      // the same partitioning collapse into one sort per direction; the
      // bar assignment itself is a pure projection. The streaming twin is
      // the same agg with first/last replaced by min_by/max_by over
      // (ts, event_id) structs.
      val bar = window(col("ts"), "6 hours")
      val wa = Window.partitionBy(col("event_type"), col("bar")).orderBy(col("ts"), col("event_id"))
      val wd = Window.partitionBy(col("event_type"), col("bar")).orderBy(col("ts").desc, col("event_id").desc)
      graft.streaming.Streams.ohlcFinish(Tables(s, d, "events")
        .withColumn("bar", bar)
        .withColumn("rn_a", row_number().over(wa))
        .withColumn("rn_d", row_number().over(wd))
        .groupBy(col("event_type"), col("bar.start").as("bar"))
        .agg(max(when(col("rn_a") === 1, col("value"))).as("open_raw"),
          max("value").as("high_raw"),
          min("value").as("low_raw"),
          max(when(col("rn_d") === 1, col("value"))).as("close_raw"),
          count(lit(1)).as("n")))
    },

    Q("q_agg_21_corr_exact",
      """WITH s AS (
        | SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(l_quantity AS BIGINT)) AS sx,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
        |  sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |  sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
        |  sum(CAST(l_quantity AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        | floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
        |  * 1000000 + 0.5) / 1000000 AS corr_qty_price
        |FROM s ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // Pearson correlation WITHOUT the engines' corr() built-ins (their
      // streaming-moment implementations differ in the last bits): the
      // five power sums accumulate as EXACT integers (quantity is
      // integral, price in cents), and only the final closed form runs
      // in double — identical inputs ⇒ identical output on any engine,
      // any partitioning. The sums are map-side combinable, so this is
      // one shuffle of six numbers per group at any scale.
      val q = col("l_quantity").cast("long")
      val p = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val st = Tables(s, d, "lineitem")
        .select(col("l_returnflag"), q.as("q"), p.as("p"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("q").as("sx"), sum("p").as("sy"),
          sum(col("q") * col("q")).as("sxx"), sum(col("p") * col("p")).as("syy"),
          sum(col("q") * col("p")).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      st.select(col("l_returnflag"),
        round((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
          / sqrt((dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
            * (dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))), 6).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },

    Q("q_time_4_ewma",
      """WITH w AS (
        | SELECT event_id, user_id, ts,
        |  list(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals
        | FROM events)
        |SELECT event_id, user_id,
        | floor((list_reduce(vals, (a, x) -> CAST(0.75 AS DOUBLE) * a + CAST(0.25 AS DOUBLE) * x)) * 1000000 + 0.5) / 1000000 AS ewma
        |FROM w WHERE user_id < 10 ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      // Exponentially weighted moving average (α=0.25) over each user's
      // last ≤10 values — the recursive smoother that plain window sums
      // can't express. The frame's values fold left in frame order with
      // the FIRST value as seed (DuckDB list_reduce's no-init semantics,
      // mirrored with slice+element_at); 0.75/0.25 are exact binary
      // doubles, so the fold is bit-identical across engines. State is a
      // 10-value ring per key — the same shape as its streaming twin.
      val win = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-9, 0)
      Tables(s, d, "events")
        .filter(col("user_id") < 10)
        .select(col("event_id"), col("user_id"), col("ts"),
          collect_list(col("value").cast("double")).over(win).as("vals"))
        .select(col("event_id"), col("user_id"),
          round(aggregate(
            slice(col("vals"), lit(2), size(col("vals")) - 1),
            element_at(col("vals"), 1),
            (a, x) => lit(0.75) * a + lit(0.25) * x), 6).as("ewma"))
        .orderBy("user_id", "event_id")
    },

    Q("q_sim_12_int8_quant",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd FROM embeddings),
        |p AS (SELECT vec_id, xd, list_min(xd) AS mn, (list_max(xd) - list_min(xd)) / 255 AS scale FROM e),
        |c AS (SELECT vec_id, mn, scale, xd,
        |  list_transform(xd, x -> least(floor((x - mn) / scale + 0.5), CAST(255 AS DOUBLE))) AS codes FROM p)
        |SELECT vec_id,
        | floor(mn * 1000000 + 0.5) / 1000000 AS q_min,
        | floor(scale * 1000000000 + 0.5) / 1000000000 AS scale,
        | floor((list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |   list_transform(list_zip(codes, xd),
        |     z -> abs(mn + struct_extract(z, 1) * scale - struct_extract(z, 2)))),
        |   (a, b) -> a + b) / 64) * 1000000000 + 0.5) / 1000000000 AS mean_abs_err
        |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
      // Embedding int8 quantization (affine, per-vector min/max range):
      // 64 floats → 64 byte codes + (min, scale), the 4× memory
      // compression applied before shipping embeddings to an ANN index
      // or a training shard; the emitted reconstruction error is the
      // quality gate. Pure per-row HOFs over the vector — no shuffle, no
      // lambda nesting (scalar columns, not captured lambda vars, feed
      // the transforms), stays in whole-stage codegen.
      // NOTE: the internal scale column is "__sc", NOT "scale" — aliasing
      // the rounded output as "scale" in the same select would otherwise
      // LATERALLY shadow col("scale") inside the sibling HOF lambda
      // (Spark lateral column alias resolution), silently feeding the
      // ROUNDED scale into the error terms (caught by the oracle hash).
      val xd = transform(col("embedding"), _.cast("double"))
      val base = Tables(s, d, "embeddings")
        .select(col("vec_id"), xd.as("xd"))
        .select(col("vec_id"), col("xd"), array_min(col("xd")).as("mn"),
          ((array_max(col("xd")) - array_min(col("xd"))) / 255).as("__sc"))
      val codes = transform(col("xd"), x => least(floor((x - col("mn")) / col("__sc") + 0.5), lit(255L)))
      base.withColumn("codes", codes)
        .select(col("vec_id"),
          round(col("mn"), 6).as("q_min"),
          round(col("__sc"), 9).as("scale"),
          round(aggregate(
            zip_with(col("codes"), col("xd"),
              (c, x) => abs(col("mn") + c.cast("double") * col("__sc") - x)),
            lit(0.0), (a, b) => a + b) / 64, 9).as("mean_abs_err"))
        .orderBy("vec_id")
    },

    Q("q_json_4_variant",
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // Spark 4 VARIANT ingestion: parse_json() produces the binary
      // semi-structured VariantType (shredded, typed access without a
      // fixed schema — the OPEN format for JSON at scale), and
      // variant_get extracts typed paths. Same answer as the
      // from_json route (q_json_2), pinning the new surface.
      Tables(s, d, "events")
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },

    Q("q_scan_10_malformed",
      // The input is GENERATED inside the query (20 good + 3 malformed
      // lines), so the expected aggregate is a compile-time constant; the
      // oracle pins it — a behavioral contract on PERMISSIVE parsing
      // (corrupt rows are kept, their typed fields null), not a
      // recomputation. Unit test asserts the same split structurally.
      """SELECT CAST(23 AS BIGINT) AS n_rows, CAST(3 AS BIGINT) AS n_corrupt,
        | CAST(190 AS BIGINT) AS id_sum""".stripMargin) { (s, d) =>
      // Tolerant ingestion: PERMISSIVE CSV parse with a corrupt-record
      // column — malformed rows land in __bad instead of failing the
      // job, and the query reports the good/bad split per file. The
      // dead-letter pattern every production ETL ingest needs.
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_rt_bad_${s.sparkContext.applicationId}"
      val good = (0 until 20).map(i => s"$i,name_$i,${i * 1.5}")
      val bad = Seq("not,enough", "x,y,notanumber,extra,cols", "justonefield")
      import s.implicits._
      s.createDataset(good ++ bad).coalesce(1).write.mode("overwrite").text(tmp)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "id INT, name STRING, score DOUBLE, __bad STRING")
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "__bad")
        .csv(tmp)
        .agg(count(lit(1)).as("n_rows"),
          count(col("__bad")).as("n_corrupt"),
          sum("id").cast("long").as("id_sum"))
    },

    Q("q_dq_9_observed",
      """SELECT count(*) AS n_rows,
        | CAST(sum(CASE WHEN l_discount > CAST(0.05 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
        | floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price
        |FROM lineitem""".stripMargin) { (s, d) =>
      // Pipeline observability via Spark's observe() API: metrics ride
      // along INSIDE a pass over the data (here a full scan) and are
      // harvested from the listener after one action — the zero-extra-
      // pass way to monitor row counts / quality signals in a 100 TB
      // pipeline (a separate aggregate query would re-scan). The
      // harvested metrics are re-emitted as a 1-row DataFrame so the
      // oracle can verify the instrumentation returns exactly what a
      // direct aggregate computes.
      val obs = org.apache.spark.sql.Observation()
      Tables(s, d, "lineitem").observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_disc"),
        sum("l_extendedprice").as("sum_price_raw"))
        .foreach(_ => ()) // one action; metrics accumulate task-side
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("n_disc").asInstanceOf[Long],
        m("sum_price_raw").asInstanceOf[Double]))
        .toDF("n_rows", "n_disc", "sum_price_raw")
        .select(col("n_rows"), col("n_disc"), round(col("sum_price_raw"), 2).as("sum_price"))
    },

    Q("q_dq_10_rolling_anomaly",
      """WITH c AS (
        | SELECT event_id, user_id, ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
        |w AS (
        | SELECT event_id, user_id, vc,
        |  sum(vc) OVER win AS s, sum(vc * vc) OVER win AS sq, count(*) OVER win AS n
        | FROM c
        | WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id,
        | floor((CAST(vc AS DOUBLE) / 100) * 100 + 0.5) / 100 AS value,
        | floor((CAST(s AS DOUBLE) / n / 100) * 100 + 0.5) / 100 AS mu
        |FROM w
        |WHERE n >= 10 AND (n * vc - s) * (n * vc - s) * (n - 1) > 9 * n * (n * sq - s * s)
        |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
      // Rolling anomaly screen: flag events more than 3 rolling standard
      // deviations from the mean of the previous ≤20 events per user.
      // The 3σ test is EXACT INTEGER arithmetic in cents —
      // (n·v − Σ)²·(n−1) > 9·n·(n·Σv² − Σ²) is the σ-test cleared of
      // divisions — so the flagged row SET is bit-identical on both
      // engines no matter how each engine orders its window-frame sums
      // (Spark linear vs DuckDB segment-tree: float sums would differ in
      // the last bits and flip boundary rows). Sliding frames ship with
      // partial aggregation per frame; at scale this is the per-key
      // streaming anomaly shape (state = 20-row ring buffer).
      val vc = floor(col("value") * 100 + 0.5).cast("long")
      val win = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
      graft.streaming.Streams.rollingAnomalyFinish(Tables(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"), vc.as("vc"))
        // one projection → one Window node (separate withColumns left two)
        .select(col("event_id"), col("user_id"), col("vc"),
          sum("vc").over(win).as("s"),
          sum(col("vc") * col("vc")).over(win).as("sq"),
          count(lit(1)).over(win).as("n"))
        .filter(col("n") >= 10 &&
          (col("n") * col("vc") - col("s")) * (col("n") * col("vc") - col("s")) * (col("n") - 1) >
            lit(9) * col("n") * (col("n") * col("sq") - col("s") * col("s"))))
    },

    Q("q_agg_19_histogram",
      """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
        |SELECT CAST(least(floor((o_totalprice - mm.mn) / ((mm.mx - mm.mn) / 20)), 19) AS BIGINT) AS bin,
        | count(*) AS n,
        | floor((min(o_totalprice)) * 100 + 0.5) / 100 AS lo,
        | floor((max(o_totalprice)) * 100 + 0.5) / 100 AS hi
        |FROM orders, mm GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
      // Equi-width histogram (20 bins over [min, max], top edge closed):
      // the profiling primitive behind range-partitioning decisions and
      // data-skew dashboards. Two passes — a scalar min/max broadcast,
      // then a pure-projection bin id + one aggregate. Bin edges are the
      // same doubles on both engines, so bin membership is exact.
      val o = Tables(s, d, "orders")
      val mm = o.agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      o.crossJoin(broadcast(mm))
        .select(least(floor((col("o_totalprice") - col("mn")) / ((col("mx") - col("mn")) / 20)), lit(19L))
          .cast("long").as("bin"), col("o_totalprice"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("bin")
    },

    Q("q_agg_20_windowed_distinct",
      """SELECT time_bucket(INTERVAL '6 hours', ts::TIMESTAMP) AS win_start,
        | count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY win_start""".stripMargin) { (s, d) =>
      // Distinct users per time window (the DAU/WAU shape). Exact
      // count-distinct expands to a two-phase aggregate (partial on
      // (window, user), merge on window); the approximate twin at 100 TB
      // is approx_count_distinct / the HLL sketch (q_udaf_2), same plan
      // shape with mergeable state.
      Tables(s, d, "events")
        .groupBy(window(col("ts"), "6 hours"))
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
        .select(col("window.start").as("win_start"), col("n_users"), col("n_events"))
        .orderBy("win_start")
    },

    Q("q_sub_3_lateral",
      """SELECT c.c_custkey, t.o_orderkey, floor((t.o_totalprice) * 100 + 0.5) / 100 AS price
        |FROM customer c, LATERAL (
        | SELECT o_orderkey, o_totalprice FROM orders o
        | WHERE o.o_custkey = c.c_custkey
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey < 100
        |ORDER BY c_custkey, o_orderkey""".stripMargin) { (s, d) =>
      // Correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
      // orders per customer) via the SQL entry — Catalyst decorrelates it
      // into a ranked window join, the same plan family as q_sort_3's
      // explicit formulation; declared to pin the SQL surface itself.
      Tables(s, d, "customer").createOrReplaceTempView("customer_v")
      Tables(s, d, "orders").createOrReplaceTempView("orders_lat_v")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, floor(t.o_totalprice * 100 + 0.5) / 100 AS price
        FROM customer_v c, LATERAL (
         SELECT o_orderkey, o_totalprice FROM orders_lat_v o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey < 100
        ORDER BY c_custkey, o_orderkey""")
    },

    Q("q_dq_7_drift",
      """WITH d AS (
        | SELECT CASE WHEN ((doc_id % 1000000007) * 2654435761) % 1000000007 % 100 < 80
        |   THEN 'train' ELSE 'other' END AS split,
        |  unnest(string_split(text, ' ')) AS tok
        | FROM documents),
        |p AS (SELECT tok,
        |  CAST(count(CASE WHEN split = 'train' THEN 1 END) AS DOUBLE) AS c_tr,
        |  CAST(count(CASE WHEN split = 'other' THEN 1 END) AS DOUBLE) AS c_ot
        | FROM d GROUP BY tok),
        |tot AS (SELECT sum(c_tr) AS t_tr, sum(c_ot) AS t_ot FROM p)
        |SELECT floor((sum(abs(c_tr / (SELECT t_tr FROM tot) - c_ot / (SELECT t_ot FROM tot))) / 2) * 1000000 + 0.5) / 1000000 AS tv_dist
        |FROM p""".stripMargin) { (s, d) =>
      // Split-distribution drift: total-variation distance between the
      // train split's token distribution and the rest (same deterministic
      // multiplicative-hash split as q_text_13). Catches a skewed split /
      // distribution shift before training. One exploded aggregate with a
      // vocabulary-sized drift sum — corpus-size-independent state.
      val bucket = (pmod(col("doc_id"), lit(1000000007L)) * 2654435761L) % 1000000007L % 100
      val d0 = Tables(s, d, "documents")
        .select(when(bucket < 80, "train").otherwise("other").as("split"),
          explode(tokens(col("text"))).as("tok"))
      val p = d0.groupBy("tok").agg(
        count(when(col("split") === "train", 1)).cast("double").as("c_tr"),
        count(when(col("split") === "other", 1)).cast("double").as("c_ot"))
      val tot = p.agg(sum("c_tr").as("t_tr"), sum("c_ot").as("t_ot"))
      p.crossJoin(broadcast(tot))
        .agg(round(sum(abs(col("c_tr") / col("t_tr") - col("c_ot") / col("t_ot"))) / 2, 6).as("tv_dist"))
    }
  )
}
