package graft.operators

import graft.Q
import graft.expressions.BloomRuntime
import graft.functions.Num.round
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-3b additions (SURVEY §2.11e): the LLM-corpus quality filters a
  * pretraining pipeline runs between dedup and tokenization
  * (repetition, novelty), the cluster-bucketed embedding dedup shape
  * (SemDeDup), explicit bloom-filter join pruning, the stream-stream
  * interval join's batch twin, a z-order data-layout sink, connected
  * components on a declared graph, table reconciliation + MERGE-style
  * upsert, incremental view maintenance, event-sequence patterns, and
  * the binaryFile/XML ingest surface.
  *
  * Scale notes per query are inline; the shared discipline: every shape
  * is a constant number of shuffles whose width is set by an aggregate
  * (vocab, cells, buckets), never by the corpus row count.
  */
object Round3Ops {

  /** DuckDB mirror of the per-doc token bigram stream (same list_zip
    * slicing as q_text_16's oracle).
    */
  private val duckBigrams =
    """SELECT doc_id, struct_extract(p, 1) AS w1, struct_extract(p, 2) AS w2 FROM (
      |  SELECT doc_id, unnest(list_zip(
      |    list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1),
      |    list_slice(string_split(text, ' '), 2, len(string_split(text, ' '))))) AS p
      |  FROM documents)""".stripMargin

  /** Morton (z-order) interleave of the low 16 bits of two keys — the
    * Scala and DuckDB forms are generated from the same loop so the two
    * engines cannot drift.
    */
  private def mortonCol(x: String, y: String): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(col(x), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(col(y), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def mortonSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " | ", ")")

  val all: Seq[Q] = Seq(

    Q("q_text_17_repetition",
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |ts AS (SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_uniq FROM tk),
         |bc AS (SELECT doc_id, w1, w2, count(*) AS c FROM ($duckBigrams) GROUP BY doc_id, w1, w2),
         |bt AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_big FROM bc GROUP BY doc_id)
         |SELECT ts.doc_id, CAST(ts.n_tok AS BIGINT) AS n_tok,
         | floor((CAST(ts.n_tok - ts.n_uniq AS DOUBLE) / ts.n_tok) * 1000000 + 0.5) / 1000000 AS dup_token_frac,
         | floor((CAST(bt.top_c AS DOUBLE) / bt.n_big) * 1000000 + 0.5) / 1000000 AS top_bigram_frac,
         | CAST(CASE WHEN CAST(ts.n_tok - ts.n_uniq AS DOUBLE) / ts.n_tok > 0.2
         |   OR CAST(bt.top_c AS DOUBLE) / bt.n_big > 0.18 THEN 1 ELSE 0 END AS BIGINT) AS flagged
         |FROM ts JOIN bt ON ts.doc_id = bt.doc_id
         |ORDER BY ts.doc_id""".stripMargin) { (s, d) =>
      // Gopher-style repetition quality filters: fraction of repeated
      // token occurrences and the most-frequent-bigram share, per doc —
      // the cheap screens that catch boilerplate/keyword-stuffed pages
      // before tokenization. Thresholds (0.2 / 0.18) are calibrated to
      // split the fixture corpus.
      graft.api.Pipelines.repetitionScores(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    Q("q_text_18_novelty",
      s"""WITH b AS (SELECT DISTINCT doc_id, w1, w2 FROM ($duckBigrams)),
         |df AS (SELECT w1, w2, count(*) AS nd FROM b GROUP BY w1, w2)
         |SELECT b.doc_id, count(*) AS n_bigrams,
         | CAST(sum(CASE WHEN df.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         | floor((CAST(sum(CASE WHEN df.nd = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS novel_frac
         |FROM b JOIN df ON b.w1 = df.w1 AND b.w2 = df.w2
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // N-gram novelty: the share of a doc's distinct bigrams that occur
      // in NO other document — high novelty marks fresh prose, low marks
      // template/mirror text (the document-frequency complement of the
      // contamination screen).
      graft.api.Pipelines.ngramNovelty(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    Q("q_sim_13_semdedup",
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |assign AS (
         | SELECT vec_id, cid FROM (
         |  SELECT e.vec_id, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id ORDER BY ${graft.functions.VectorFunctions.Duck.sqDist("e.embedding", "c.cvec")}, c.cid) AS rn
         |  FROM embeddings e, cents c) WHERE rn = 1),
         |pairs AS (
         | SELECT aa.cid, a.vec_id AS ia, b.vec_id AS ib
         | FROM embeddings a JOIN assign aa ON a.vec_id = aa.vec_id
         | JOIN assign ab ON ab.cid = aa.cid AND ab.vec_id > aa.vec_id
         | JOIN embeddings b ON b.vec_id = ab.vec_id
         | WHERE ${graft.functions.VectorFunctions.Duck.cosine("a.embedding", "b.embedding")} >= 0.35)
         |SELECT ib AS drop_id, min(ia) AS keep_id, min(cid) AS cid, count(*) AS n_dups
         |FROM pairs GROUP BY ib ORDER BY drop_id""".stripMargin) { (s, d) =>
      // SemDeDup (semantic dedup) over 8 seed cells. Fixture embeddings
      // are i.i.d.-random (no true near-dups), so the demo threshold
      // 0.35 sits at the pair-cos 99.5th percentile to exercise the
      // path; production sets ~0.95+ and k ≈ √n cells with a per-cell
      // size cap.
      val e = Tables(s, d, "embeddings")
      graft.api.Pipelines.semDedup(e, "vec_id", "embedding", e.filter(col("vec_id") < 8), 0.35)
        .orderBy("drop_id")
    },

    Q("q_join_17_bloom",
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(sum(floor(l_extendedprice * 100 + 0.5)) AS BIGINT) AS price_cents
        |FROM lineitem l JOIN (SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 490000) o
        | ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // Explicit bloom-filter semi-join pruning: a ~2%-selective dim
      // filter builds one compact sketch (scalar subquery — dim rows
      // never reach the driver), and the fact scan drops non-matching
      // rows BEFORE the join shuffle. Bloom false positives are removed
      // by the exact join that follows, so results are identical to the
      // plain join — which is exactly what the oracle runs. At 100 TB
      // this caps shuffle bytes at the semi-join selectivity when the
      // dim is too big to broadcast and CBO stats (bare parquet) are
      // absent, the case Spark's own InjectRuntimeFilter declines.
      BloomRuntime.register(s)
      Tables(s, d, "orders").createOrReplaceTempView("orders_bf3")
      Tables(s, d, "lineitem").createOrReplaceTempView("lineitem_bf3")
      s.sql("""
        WITH dim AS (SELECT o_orderkey, o_orderpriority FROM orders_bf3 WHERE o_totalprice > 490000)
        SELECT o_orderpriority, count(*) AS n_items,
          CAST(sum(floor(l_extendedprice * 100 + 0.5)) AS BIGINT) AS price_cents
        FROM lineitem_bf3 l JOIN dim ON l.l_orderkey = dim.o_orderkey
        WHERE might_contain(
          (SELECT bloom_agg(o_orderkey, CAST(100000 AS BIGINT), CAST(800000 AS BIGINT)) FROM dim),
          xxhash64(l.l_orderkey))
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    Q("q_stream_9_interval_join",
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        | CAST(epoch_us(p.ts::TIMESTAMP) - epoch_us(c.ts::TIMESTAMP) AS BIGINT) AS lag_us
        |FROM events p JOIN events c
        | ON p.user_id = c.user_id AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND epoch_us(p.ts::TIMESTAMP) >= epoch_us(c.ts::TIMESTAMP)
        | AND epoch_us(p.ts::TIMESTAMP) < epoch_us(c.ts::TIMESTAMP) + 3600000000
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin) { (s, d) =>
      // Batch twin of Streams.clickPurchaseJoin (same semantics: each
      // purchase matched to the user's clicks in the preceding hour) —
      // StreamingSpec proves the streaming form emits exactly these rows
      // under watermarking. Join discipline per the round-1 lesson:
      // endpoints precomputed as epoch-microsecond BIGINTs per row, the
      // condition is pure column comparisons — no interval arithmetic in
      // the join residual. One shuffle on user_id each side; streaming
      // state is bounded by the watermark horizon.
      val ev = Tables(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("cus"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("pus"))
      purchases.join(clicks,
        col("user_id") === col("cu") && col("pus") >= col("cus") &&
          col("pus") < col("cus") + 3600000000L)
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          (col("pus") - col("cus")).as("lag_us"))
        .orderBy("user_id", "purchase_id", "click_id")
    },

    Q("q_sink_2_zorder",
      s"""WITH z AS (SELECT ${mortonSql("l_partkey", "l_suppkey")} AS zkey FROM lineitem)
         |SELECT zkey >> 24 AS zbucket, count(*) AS n, min(zkey) AS zmin, max(zkey) AS zmax
         |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin) { (s, d) =>
      // Z-order (Morton-interleaved) data layout: co-sorting on the
      // interleaved bits of (l_partkey, l_suppkey) gives every output
      // file a tight min/max envelope on BOTH columns, so parquet
      // row-group stats prune scans filtered on either key — the
      // multi-dimensional generalization of partitionBy, and a layout
      // decision that pays on every downstream read at 100 TB.
      // repartitionByRange(zkey) + sortWithinPartitions = globally
      // z-ordered files (ZorderSpec pins that file zkey ranges are
      // disjoint). The declared result re-aggregates the STORED zkey
      // from the written files against the oracle's recomputation from
      // source — proving the layout round-trips losslessly.
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_rt_zorder_${s.sparkContext.applicationId}"
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          mortonCol("l_partkey", "l_suppkey").as("zkey"))
        .repartitionByRange(8, col("zkey"))
        .sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .groupBy(shiftright(col("zkey"), 24).as("zbucket"))
        .agg(count(lit(1)).as("n"), min("zkey").as("zmin"), max("zkey").as("zmax"))
        .orderBy("zbucket")
    },

    Q("q_graph_4_components",
      """WITH RECURSIVE e AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
        |  WHERE a.l_suppkey <> b.l_suppkey AND a.l_orderkey % 200 = 0),
        |bidir AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |nodes AS (SELECT DISTINCT src AS node FROM bidir),
        |walk(node, label) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT b.dst, w.label FROM walk w JOIN bidir b ON b.src = w.node)
        |SELECT component, count(*) AS csize FROM (
        |  SELECT node, min(label) AS component FROM walk GROUP BY node)
        |GROUP BY component ORDER BY component""".stripMargin) { (s, d) =>
      // Connected components over the (sampled, hence non-trivially
      // disconnected) supplier-handoff graph — the canonical Pipelines
      // entry point under dedup clustering, declared on a real graph.
      // Spark side: large-star/small-star contraction (O(log n) rounds,
      // see Pipelines.connectedComponents) with localCheckpoint per
      // round and a loud non-convergence contract; the oracle walks
      // the same graph with a recursive CTE (reachable-set min label —
      // engine-appropriate form, identical fixpoint).
      // shared session-cached edge list (SampledEdges.handoff) — the
      // same rows the inline self-join produced, materialized once.
      val edges = graft.sources.SampledEdges.handoff(s, d, 200)
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      graft.api.Pipelines.connectedComponents(nodes, "node", edges, "src", "dst", maxIters = 50)
        .groupBy("component").agg(count(lit(1)).as("csize"))
        .orderBy("component")
    },

    Q("q_dq_12_tablediff",
      """WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders),
        |v2 AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
        | FROM orders WHERE o_orderkey % 97 <> 0
        | UNION ALL
        | SELECT o_orderkey + 100000000, o_totalprice FROM orders WHERE o_orderkey % 103 = 0)
        |SELECT
        | CAST(sum(CASE WHEN b.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_left,
        | CAST(sum(CASE WHEN a.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_right,
        | CAST(sum(CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
        |   AND a.o_totalprice <> b.o_totalprice THEN 1 ELSE 0 END) AS BIGINT) AS n_value_diff,
        | CAST(sum(CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
        |   AND a.o_totalprice = b.o_totalprice THEN 1 ELSE 0 END) AS BIGINT) AS n_equal
        |FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey""".stripMargin) { (s, d) =>
      // Table reconciliation (the anti-entropy check every migration and
      // every dual-write cutover needs): key-level full outer join of two
      // table versions, classifying every key as left-only / right-only /
      // value-drift / equal in ONE pass. The drifted v2 is derived
      // deterministically from v1 (drop ~1%, perturb ~1%, add ~1%) so
      // both engines diff identical inputs. One shuffle on the key each
      // side; at 100 TB both versions live bucketed on the key
      // (q_join_15's layout) and the diff runs shuffle-free. Value
      // comparison is exact: both engines read the same parquet doubles
      // and +1.0 is exact IEEE arithmetic.
      val v1 = Tables(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val v2 = Tables(s, d, "orders")
        .filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionAll(Tables(s, d, "orders")
          .filter(col("o_orderkey") % 103 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"), col("o_totalprice")))
      val a = v1.select(col("o_orderkey").as("ka"), col("o_totalprice").as("pa"))
      val b = v2.select(col("o_orderkey").as("kb"), col("o_totalprice").as("pb"))
      a.join(b, col("ka") === col("kb"), "full_outer")
        .agg(
          sum(when(col("kb").isNull, 1L).otherwise(0L)).cast("long").as("n_only_left"),
          sum(when(col("ka").isNull, 1L).otherwise(0L)).cast("long").as("n_only_right"),
          sum(when(col("ka").isNotNull && col("kb").isNotNull && col("pa") =!= col("pb"), 1L)
            .otherwise(0L)).cast("long").as("n_value_diff"),
          sum(when(col("ka").isNotNull && col("kb").isNotNull && col("pa") === col("pb"), 1L)
            .otherwise(0L)).cast("long").as("n_equal"))
    },

    Q("q_dq_13_upsert",
      """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
        |changes AS (
        | SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice, o_orderpriority
        | FROM base WHERE o_orderkey % 11 = 0
        | UNION ALL
        | SELECT o_orderkey + 200000000, o_totalprice, o_orderpriority
        | FROM base WHERE o_orderkey % 113 = 0),
        |merged AS (
        | SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice,
        |  coalesce(c.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
        |  CASE WHEN b.o_orderkey IS NULL THEN 1 ELSE 0 END AS is_insert,
        |  CASE WHEN b.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS is_update
        | FROM base b FULL JOIN changes c ON b.o_orderkey = c.o_orderkey)
        |SELECT o_orderpriority, count(*) AS n_rows,
        | CAST(sum(is_insert) AS BIGINT) AS n_inserted,
        | CAST(sum(is_update) AS BIGINT) AS n_updated,
        | CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS total_cents
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      // MERGE INTO expressed Spark-first (the Delta/Iceberg upsert,
      // without a table format): full-outer join of base and changeset
      // on the key, coalesce(change, base) per column — matched rows
      // update, unmatched changes insert, untouched base survives. The
      // changeset (update ~9%, insert ~1%) is derived deterministically
      // from the base so both engines merge identical inputs. One
      // shuffle on the key per side; at 100 TB the base lives bucketed
      // on the key (q_join_15's layout) and the recurring nightly merge
      // is shuffle-free on the base side; counts n_inserted/n_updated
      // are the merge's audit trail.
      val base = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val changes = base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 10.0).as("o_totalprice"),
          col("o_orderpriority"))
        .unionAll(base.filter(col("o_orderkey") % 113 === 0)
          .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
            col("o_totalprice"), col("o_orderpriority")))
      val b = base.select(col("o_orderkey").as("bk"), col("o_totalprice").as("bp"),
        col("o_orderpriority").as("bo"))
      val c = changes.select(col("o_orderkey").as("ck"), col("o_totalprice").as("cp"),
        col("o_orderpriority").as("co"))
      b.join(c, col("bk") === col("ck"), "full_outer")
        .select(
          coalesce(col("co"), col("bo")).as("o_orderpriority"),
          coalesce(col("cp"), col("bp")).as("o_totalprice"),
          when(col("bk").isNull, 1L).otherwise(0L).as("is_insert"),
          when(col("bk").isNotNull && col("ck").isNotNull, 1L).otherwise(0L).as("is_update"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum("is_insert").cast("long").as("n_inserted"),
          sum("is_update").cast("long").as("n_updated"),
          sum(floor(col("o_totalprice") * 100 + 0.5)).cast("long").as("total_cents"))
        .orderBy("o_orderpriority")
    },

    Q("q_scan_11_binaryfile",
      // DuckDB's glob() lists the same fixture directory the binaryFile
      // source scans: {SF_DIR} is substituted with the verify run's
      // actual sfDir when graft.Verify dumps oracle_sql.json, so both
      // engines always list the SAME directory (no hardcoded layout).
      """SELECT regexp_extract(file, '[^/]+$') AS file_name, true AS non_empty
        |FROM glob('{SF_DIR}/*.parquet') ORDER BY file_name""".stripMargin) { (s, d) =>
      // Binary-blob ingestion: the `binaryFile` source reads opaque
      // payloads (images/audio/video in a real lake) with path + length
      // metadata — the entry point of the multimodal pipeline
      // (q_mm_1/2/4 consume such blobs). Output keeps only the
      // generation-stable fields (file name, non-emptiness); length and
      // mtime are asserted against the filesystem in Round3OpsSpec
      // instead of the golden digest. At 100 TB the source partitions
      // by file and prunes on pathGlobFilter/modifiedAfter — scan
      // parallelism is per-blob, no shuffle. (pathGlobFilter, not a
      // glob-in-path: the latter trips a noisy FileStreamSink metadata
      // probe on the literal path before resolving.)
      s.read.format("binaryFile").option("pathGlobFilter", "*.parquet").load(d)
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          (col("length") > 0).as("non_empty"))
        .orderBy("file_name")
    },

    Q("q_scan_13_hash_sample",
      """SELECT o_orderkey, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT o_orderkey, row_number() OVER (
        |   ORDER BY (o_orderkey % 1000000007) * 2654435761 % 1000000007, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 100 ORDER BY rn""".stripMargin) { (s, d) =>
      // Deterministic bottom-k-by-hash sampling: priority = the same
      // overflow-safe multiplicative hash as deterministicSplit; the
      // sample is the k smallest priorities. Unlike seeded sample()
      // (q_scan_6/7, engine-private RNG → no_oracle), this sample is
      // REPRODUCIBLE across engines, runs, and partitionings — the
      // property a training-data pipeline needs to re-derive "the same
      // 1%" years later. Spark plans the k-smallest as
      // TakeOrderedAndProject (per-partition heaps, no global sort); the
      // oracle's window formulation is the same order statistic.
      val prio = (pmod(col("o_orderkey"), lit(1000000007L)) * 2654435761L) % 1000000007L
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(prio, col("o_orderkey"))
      Tables(s, d, "orders").select(col("o_orderkey"))
        .orderBy(prio, col("o_orderkey")).limit(100)
        .select(col("o_orderkey"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy("rn")
    },

    Q("q_dedup_9_entity",
      """WITH v2 AS (
        | SELECT c_custkey + 1000000 AS id2,
        |  CASE WHEN c_custkey % 7 = 0 THEN replace(c_name, '#', '-') ELSE c_name END AS name2
        | FROM customer),
        |cand AS (
        | SELECT v2.id2, c.c_custkey, CAST(levenshtein(c.c_name, v2.name2) AS BIGINT) AS dist
        | FROM v2 CROSS JOIN customer c
        | WHERE levenshtein(c.c_name, v2.name2) <= 1)
        |SELECT id2, c_custkey AS matched_custkey, dist FROM (
        | SELECT id2, c_custkey, dist,
        |  row_number() OVER (PARTITION BY id2 ORDER BY dist, c_custkey) AS rk
        | FROM cand) WHERE rk = 1 ORDER BY id2""".stripMargin) { (s, d) =>
      // Entity resolution across two systems (the reference domain's
      // core problem: the same entity keyed differently in each SaaS):
      // v2 is a deterministically-perturbed copy (id remapped, ~14% of
      // names mutated). Candidates come from DELETION-NEIGHBORHOOD
      // blocking (r9 verdict item 1 — the previous last-3-chars block
      // key had FIXED cardinality ~1000, so candidate pairs grew
      // n²/1000, quadratic with a small constant; sf1' exponent 0.93):
      // each name emits L+1 signatures — itself plus every
      // single-character deletion. Any pair at Levenshtein ≤ 1
      // provably shares a signature (equal → the full key; one
      // substitution at i → both i-deletions; one indel → the shorter
      // string IS a deletion of the longer), so the blocking is a
      // SUPERSET-exact candidate generator for the declared dist ≤ 1
      // semantics — never misses a true match (the last-3 key silently
      // dropped dist-1 pairs whose edit touched the suffix). Cost is
      // linear: L+1 ≈ 19 keys/row, and a signature's block size is
      // bounded by the number of existing single-insertion extensions
      // (≤ L·|Σ|, independent of n). Duplicated candidates (a dist-0
      // pair shares all L+1 keys) are absorbed by the winner fold
      // without a distinct pass: the (dist, custkey) order is encoded
      // into ONE long (dist in bit 62 — custkey < 2⁶² by schema), so
      // min() is a plain HashAggregate with map-side combine (the
      // struct-min form planned as two SortAggregates over every
      // candidate row — measured 3× slower). The signature join is
      // hinted SHUFFLE_HASH: the build side is an EXPLODED fact (L+1 ×
      // |customer| rows), which Catalyst's pre-explode size estimate
      // would happily broadcast — fine at sf0.1, an OOM at 100 TB.
      // levenshtein's threshold form caps per-candidate cost at
      // O(threshold·L) (returns -1 past the threshold). Two shuffles
      // total: the signature join + the per-id2 fold. The oracle is
      // the SEMANTIC ground truth (all-pairs dist ≤ 1), structurally
      // independent of the blocking.
      val c = Tables(s, d, "customer")
      // shared generator: graft.functions.TextFunctions.deletionNeighborhood
      // (q_dedup_32_deletion_blocks profiles exactly these blocks)
      def delKeys(name: Column): Column =
        graft.functions.TextFunctions.deletionNeighborhood(name)
      val v2 = c.select((col("c_custkey") + 1000000L).as("id2"),
        when(col("c_custkey") % 7 === 0, regexp_replace(col("c_name"), "#", "-"))
          .otherwise(col("c_name")).as("name2"))
        .select(col("id2"), col("name2"),
          explode(delKeys(col("name2"))).as("sig"))
        .select(col("id2"), col("name2"), xxhash64(col("sig")).as("sig"))
      val v1 = c.select(col("c_custkey"), col("c_name"),
        explode(delKeys(col("c_name"))).as("sig"))
        .select(col("c_custkey"), col("c_name"), xxhash64(col("sig")).as("sig"))
      // joining on the signature's 8-byte hash instead of the string
      // shrinks the shuffle; a hash collision can only MERGE blocks
      // (superset candidates), never drop a true pair — exactness
      // stays with the levenshtein filter.
      v2.join(v1.hint("SHUFFLE_HASH"), "sig")
        .withColumn("dist",
          levenshtein(col("c_name"), col("name2"), 1).cast("long"))
        .filter(col("dist") >= 0)
        .groupBy("id2")
        .agg(min(shiftleft(col("dist"), 62) + col("c_custkey")).as("m"))
        .select(col("id2"),
          (col("m") - shiftleft(shiftright(col("m"), 62), 62)).as("matched_custkey"),
          shiftright(col("m"), 62).as("dist"))
        .orderBy("id2")
    },

    Q("q_scan_12_xml_roundtrip",
      """SELECT count(*) AS n_rows,
        | CAST(sum(floor(s_acctbal * 100 + 0.5)) AS BIGINT) AS acctbal_cents,
        | min(s_name) AS first_name, max(s_name) AS last_name
        |FROM supplier""".stripMargin) { (s, d) =>
      // XML round trip through Spark 4's built-in XML source (merged
      // from spark-xml): write supplier as <supplier> row elements, read
      // back with an EXPLICIT schema (inference on XML text is the
      // schema-drift trap), aggregate. The oracle recomputes from the
      // source parquet — the round trip must be lossless, including
      // doubles (Java shortest-decimal toString re-parses exactly).
      // Sized for the dim table it is; at 100 TB XML is an ingest
      // format, not a lake format — land it to parquet in one pass.
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_rt_xml_${s.sparkContext.applicationId}"
      Tables(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .write.mode("overwrite").option("rowTag", "supplier").xml(tmp)
      s.read.option("rowTag", "supplier")
        .schema("s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE")
        .xml(tmp)
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("s_acctbal") * 100 + 0.5)).cast("long").as("acctbal_cents"),
          min("s_name").as("first_name"), max("s_name").as("last_name"))
    },

    Q("q_stream_10_incremental",
      """SELECT user_id, count(*) AS n_events,
        | floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // Incremental materialized-view maintenance: the event stream
      // arrives as micro-batches (simulated by event_id mod 3) and each
      // batch's PARTIAL aggregate is merged into the running state —
      // count/sum are algebraic, so merge(state, agg(batch)) ==
      // agg(all), which is exactly what the oracle asserts. This is the
      // contract that lets a 100 TB view update by touching only the new
      // partition (state stays user-cardinality-sized); retries are made
      // exactly-once by the batch-id-scoped idempotent sink
      // (Streams.idempotentParquetSink), proven in StreamingSpec.
      val ev = Tables(s, d, "events")
        .select(col("user_id"), col("value"), col("event_id"))
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id").agg(count(lit(1)).cast("long").as("n_events"),
          sum("value").as("sum_value"))
      val merged = (0 until 3)
        .map(i => aggOf(ev.filter(pmod(col("event_id"), lit(3)) === i)))
        .reduce { (state, batch) =>
          state.unionAll(batch).groupBy("user_id")
            .agg(sum("n_events").cast("long").as("n_events"),
              sum("sum_value").as("sum_value"))
        }
      merged.select(col("user_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
        .orderBy("user_id")
    },

    Q("q_stream_11_pattern",
      """WITH o AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        | FROM events)
        |SELECT user_id, count(*) AS n_patterns
        |FROM o WHERE event_type = 'view' AND nxt = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      // Event-sequence pattern detection (the MATCH_RECOGNIZE primitive):
      // count view→purchase ADJACENT pairs per user in event-time order.
      // One shuffle on user_id + one per-partition sort — the lead()
      // formulation is the scale-safe skeleton for any fixed-length
      // pattern (longer patterns chain lead(k); variable-length gaps use
      // the funnel/sessionize shapes instead). Order carries event_id as
      // the deterministic tie-break (SURVEY §2.12).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables(s, d, "events")
        .select(col("user_id"), col("event_type"),
          lead("event_type", 1).over(w).as("nxt"))
        .filter(col("event_type") === "view" && col("nxt") === "purchase")
        .groupBy("user_id").agg(count(lit(1)).as("n_patterns"))
        .orderBy("user_id")
    },
  )
}
