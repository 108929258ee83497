package graft.api

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num.round

/** The library's user-facing, column-parameterized API: the training-data
  * and analytics operators of the declared queries, generalized to ANY
  * DataFrame and column names. Each operator has one implementation: the
  * declared query in `graft.operators` calls its wrapper here and keeps
  * only its own input selection, output projection and ORDER BY, so the
  * DuckDB oracle gate, PlanLint and the benchmark check exactly this code
  * (`tools/wrapper_lint.py` fails on a public def no query reaches).
  *
  * `round` is [[graft.functions.Num.round]] (`floor(x·10ⁿ+0.5)/10ⁿ`, the
  * oracle's rounding), not Spark's decimal `round`.
  */
object Pipelines {

  /** The portable multiplicative id hash (id mod P)·A mod P, P = 1e9+7:
    * the mod-P before the multiply keeps the product inside Long at any
    * id magnitude (a bare id·A wraps negative past ~3.47e9); the mod-P
    * after it makes buckets depend on the whole product, not its low
    * bits. The same on every engine, run and partitioning — the split,
    * fold, sampling and mixture assignments all key on it.
    */
  private def idHash(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (pmod(id, lit(1000000007L)) * 2654435761L) % 1000000007L

  /** Exact dedup: one row per normalized text (md5 of lower(trim)) with
    * the surviving min id and the copy count. One shuffle keyed by the
    * 16-byte digest. Returns (text_key, keep_id, n_copies).
    */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(trim(col(textCol)))).as("text_key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash(16)+LSH(4 bands × 4 rows) candidate near-dup pairs:
    * (id_a, id_b, n_shared_bands) for every id pair agreeing on ≥1 band
    * key. Shuffles O(n·bands) band keys, never the O(n²) pair space.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bands = graft.operators.TextOps.lshBandKeys(df, idCol, textCol)
    val a = bands.select(col(idCol).as("id_a"), col("j"), col("band_key"))
    val b = bands.select(col(idCol).as("id_b"), col("j").as("j2"), col("band_key").as("band_key2"))
    a.join(b, col("j") === col("j2") && col("band_key") === col("band_key2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Connected components over an undirected edge list: (id, component)
    * where component = min id reachable.
    *
    * Large-star / small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's strictly-larger neighbors (large-star) then its
    * smaller-or-equal neighbors (small-star) to the minimum of its
    * closed neighborhood. Chains contract exponentially, so rounds are
    * O(log n) — NOT O(diameter) like one-hop min-label propagation —
    * and the edge set collapses monotonically toward one star per
    * component rooted at the component minimum. Per round: two
    * groupBy(node)+join min-label exchanges (map-side combinable and
    * AQE-skew-splittable, unlike the window form they replaced — r11)
    * + two dedup shuffles over the
    * CURRENT edge set (which shrinks as stars form), one localCheckpoint
    * materialization to truncate lineage, and one O(1-row) stats action
    * (count + order-independent hash-sum) on the just-checkpointed
    * blocks for the fixpoint test. State is edge-sized, never node²;
    * at 100 TB the window key is the node id, so skew = max degree —
    * star-contraction itself is what keeps hub degrees from compounding
    * across rounds.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, maxIters: Int = 25): DataFrame = {
    // canonical orientation: u = larger endpoint, v = smaller; drop
    // self-loops and duplicates so round cost tracks the TRUE edge count
    var e = edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
        least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    // checkpoint the node list too: the final label join must read
    // materialized rows, not re-derive the (possibly join-heavy) node
    // lineage at action time — the round-2 PageRank lesson
    val nodeIds = nodes.select(col(idCol)).localCheckpoint()
    // Per-round neighborhood minimum as groupBy(u).agg(min) + re-join,
    // NOT min().over(Window.partitionBy(u)) (r11, VERDICT r10 item 3):
    // the window form sorts each node's whole adjacency in one task and
    // gets no AQE skew handling, so a real-graph hub (degree 10⁴⁺) puts
    // its entire neighbor list through a single task EVERY round. The
    // aggregate form partial-min()s map-side — the hub's per-task input
    // collapses to one row per map partition before the shuffle — and
    // the edge⋈min join is AQE-skew-splittable. Output is the identical
    // edge set (min is deterministic), so goldens are unchanged.
    // large-star: for every node n, connect each strictly-larger
    // neighbor to min(Γ(n) ∪ {n}); emitted (v, m) keeps v > m
    // SHUFFLE_HASH on the edges⋈mins join: both sides arrive
    // partitioned on u (the groupBy's exchange is reused), the mins
    // side is node-sized ≤ the edge side, and a sort-merge join would
    // re-sort BOTH relations every round for nothing; AQE's skew
    // splitter handles shuffled-hash joins the same as sort-merge.
    // largeStar emits WITHOUT a distinct: its consumer is always
    // smallStar, whose min-aggregate is duplicate-insensitive (the
    // map-side combine collapses repeats before the wire) and whose
    // own final distinct dedups the round's output — the intermediate
    // dedup exchange bought nothing but a stage per round (r11; the
    // fixpoint stats only ever read smallStar's deduped output, so
    // convergence and results are byte-identical).
    def largeStar(es: DataFrame): DataFrame = {
      val nbrs = es.union(es.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(least(min("v"), col("u")).as("m"))
      nbrs.join(mins.hint("shuffle_hash"), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star (input already oriented u > v): connect every smaller
    // neighbor AND the node itself to min(Γ(n)); orientation preserved
    def smallStar(es: DataFrame): DataFrame = {
      val mins = es.groupBy("u").agg(min("v").as("m"))
      val withM = es.join(mins.hint("shuffle_hash"), "u")
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }
    def stats(es: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-independent AND overflow-free (a long
      // sum of 2⁶³-scale hashes throws under Spark 4's default ANSI)
      val r = es.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = stats(e)
    var converged = prev._1 == 0L // no edges → every node is its own root
    var pass = 0
    while (!converged && pass < maxIters) {
      e = smallStar(largeStar(e)).localCheckpoint()
      val cur = stats(e)
      // fixpoint ⇔ identical edge SET; count + xor-of-hashes is an
      // O(1-row) proxy (collision odds ~2⁻⁶⁴)
      converged = cur == prev
      prev = cur
      pass += 1
    }
    // silent non-convergence would return plausible-but-wrong components
    // (a half-contracted chain reads as several fake stars); fail loudly
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds " +
        s"(${prev._1} edges still rewiring) — raise maxIters")
    nodeIds
      .join(e.select(col("u"), col("v")), col(idCol) === col("u"), "left")
      .select(col(idCol), coalesce(col("v"), col(idCol)).as("component"))
  }

  /** BFS hop distances from `source` over an undirected edge list.
    * Returns (idCol, dist) for REACHABLE nodes only. Reachability is
    * defined over `edges` ALONE: ids appearing in `edges` but not in
    * `nodes` are returned if reached, and the source row (dist 0) is
    * emitted unconditionally — `nodes` only sizes the partitioner
    * (r10 doc fix: the earlier DataFrame version anchored the result
    * to `nodes`; all in-tree callers derive nodes from edges, so the
    * two contracts coincide — callers that need the old semantics
    * semi-join the result with their node table). Level-synchronous:
    * each hop expands ONLY the current frontier (nodes discovered last
    * hop) — unweighted BFS settles a node the first time it is seen,
    * so settled distances never need re-relaxing and total work is
    * O(E) across all hops, not O(E · eccentricity).
    *
    * The loop runs on CO-PARTITIONED RDDs, not DataFrames (r9, the
    * q_graph_25 budget fix — measured on the 829-node sampled graph:
    * the DataFrame form cost ~4–6 s per BFS pass in pure per-stage
    * overhead — AQE replanning, broadcast builds, and fresh per-hop
    * codegen from the `dist === h` literals — regardless of hop
    * chunking or partition sizing; this form runs the same pass in
    * well under a second). One HashPartitioner sized to the node count
    * (~500k nodes per partition, so real tasks at any scale) keeps the
    * adjacency, frontier, and visited sets co-located: per hop the
    * adjacency⋈frontier join and the visited subtract are NARROW, and
    * the only shuffle is the reduceByKey that dedups newly reached
    * nodes — strictly fewer stages than the Catalyst plan, with none
    * of its per-stage fixed cost. This is the documented RDD exception
    * (genuine per-partition iterative state), the same machinery class
    * as exactRankPick.
    *
    * Hops run in chunks of `chunk` (default 4) between checkpoint
    * truncations, with ONE convergence count per chunk; hops past a
    * dead frontier are no-ops (empty frontier joins to nothing), so
    * overshooting inside a chunk cannot alter any distance.
    * Non-convergence within maxIters hops still throws rather than
    * returning truncated distances.
    */
  def bfsDistances(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      source: Long, maxIters: Int = 25, chunk: Int = 4): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(chunk >= 1, "bfsDistances: chunk must be >= 1")
    val sess = nodes.sparkSession
    val sc = sess.sparkContext
    val nNodes = nodes.count()
    val defaultP = sess.conf.get("spark.sql.shuffle.partitions")
    val p = math.max(1L, math.min(defaultP.toLong, nNodes / 500000L + 1L)).toInt
    val part = new HashPartitioner(p)
    // adjacency pairs (node -> neighbor), both directions, materialized
    // once and kept partitioned for the whole walk
    val adj: RDD[(Long, Long)] = edges
      .select(col(srcCol).cast("long"), col(dstCol).cast("long")).rdd
      .flatMap { r => val s = r.getLong(0); val d0 = r.getLong(1)
        Iterator((s, d0), (d0, s)) }
      .partitionBy(part)
    adj.localCheckpoint()
    adj.count()
    val init: RDD[(Long, Long)] =
      sc.parallelize(Seq((source, 0L)), 1).partitionBy(part)
    // visited = the union of the per-chunk frontier pieces, each one a
    // checkpointed co-partitioned RDD — a flat partitioner-aware union
    // (narrow), so lineage never deepens across chunks
    var visitedParts: List[RDD[(Long, Long)]] = List(init)
    var frontier = init
    var discovered = 1L
    var pass = 0
    while (discovered > 0 && pass < maxIters) {
      val hops = math.min(chunk, maxIters - pass)
      var fr = frontier
      var newParts: List[RDD[(Long, Long)]] = Nil
      for (_ <- 0 until hops) {
        // fr is always the last element of visitedParts, so the union
        // IS the full visited set
        val vis = sc.union(visitedParts)
        // adj⋈fr narrow (co-partitioned); the reduceByKey is the hop's
        // single shuffle (dedups multi-parent discoveries — the dist is
        // uniform across a hop, so keeping either copy is exact);
        // subtract of the visited set is narrow again
        fr = adj.join(fr)
          .map { case (_, (nb, dd)) => (nb, dd + 1L) }
          .reduceByKey(part, (a, _) => a)
          .subtractByKey(vis, part)
        visitedParts = visitedParts :+ fr
        newParts = newParts :+ fr
      }
      // the chunk's hops share one lineage: mark only this chunk's new
      // pieces (re-marking a checkpointed RDD is not allowed), then one
      // materializing action checkpoints them all and reads the count
      newParts.foreach(_.localCheckpoint())
      discovered = fr.count()
      frontier = fr
      pass += hops
    }
    if (discovered > 0) throw new IllegalStateException(
      s"bfsDistances did not converge in $maxIters passes " +
        s"(frontier still expanding) — raise maxIters")
    val visAll = sc.union(visitedParts)
    sess.createDataFrame(
      visAll.map { case (id, dd) => Row(id, dd) },
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField("dist", LongType, nullable = false))))
  }

  /** PageRank with dangling-node mass redistribution over a directed
    * edge list. Returns (node, rank) with ranks summing to 1.
    *
    * Each iteration is the declarative Pregel round: edges ⋈ ranks ⋈
    * outdeg → groupBy(dst) sum, plus the dangling correction — nodes
    * with no out-edges would leak their mass, so their summed rank is
    * redistributed uniformly:
    *   rank'(v) = (1-d)/n + d·(Σ_{u→v} rank(u)/outdeg(u) + D/n),
    * D = Σ rank over dangling u. This keeps Σ rank = 1 every iteration
    * (the property `GraphSpec` pins).
    *
    * Iteration-invariant inputs (edges, nodes, outdeg) are materialized
    * once via localCheckpoint — without it each unrolled iteration
    * re-derives the edge list (re-scanning + re-shuffling the fact
    * table per round: the round-2 plan had the edge-derivation subtree
    * 4× in a 368-node plan). Ranks are checkpointed per round to
    * truncate the otherwise-exponential lineage, same as
    * [[connectedComponents]].
    *
    * `tol <= 0` runs exactly `maxIters` rounds fully declaratively (no
    * per-round driver action) — the form the declared query pins
    * against its unrolled DuckDB oracle. `tol > 0` adds one O(1-row)
    * convergence action per round and stops when the L1 rank delta
    * drops below tol; throws if maxIters rounds don't get there
    * (silent non-convergence would return plausible-but-wrong ranks).
    *
    * At 100 TB: edges shuffle once at checkpoint time; ranks/outdeg are
    * node-sized (≪ edges) but NOT force-broadcast — at 10⁸–10⁹ nodes a
    * forced broadcast is a hard failure (8 GB cap / driver OOM), so the
    * joins carry no hint and AQE picks broadcast vs shuffle from the
    * measured post-checkpoint sizes; only the provably 1-row totals
    * (node count, dangling mass) are hinted. Each round is one shuffle
    * on dst. The checkpoint is the difference between O(iters) and
    * O(iters²) fact-table scans.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      damping: Double = 0.85, maxIters: Int = 20, tol: Double = 0.0): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst"))).distinct().localCheckpoint()
    val outdeg = e.groupBy("__src")
      .agg(count(lit(1)).cast("double").as("__outdeg")).localCheckpoint()
    val nn = nodes.agg(count(lit(1)).cast("double").as("__n"))
    var rank = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("__n")).as("rank")).localCheckpoint()
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIters && delta >= tol) {
      val prev = rank
      // dangling mass: one broadcastable row, computed declaratively so
      // the tol<=0 path stays action-free
      val dm = prev.join(outdeg, prev("node") === outdeg("__src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
      val contrib = e.join(prev, col("__src") === col("node"))
        .join(outdeg, Seq("__src"))
        .groupBy(col("__dst")).agg(sum(col("rank") / col("__outdeg")).as("__inr"))
      rank = nodes.crossJoin(broadcast(nn)).crossJoin(broadcast(dm))
        .join(contrib, col("node") === col("__dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / col("__n") + lit(damping) *
            (coalesce(col("__inr"), lit(0.0)) + col("__dm") / col("__n"))).as("rank"))
        .localCheckpoint()
      if (tol > 0) {
        delta = rank.join(prev.withColumnRenamed("rank", "__pr"), Seq("node"))
          .agg(sum(abs(col("rank") - col("__pr")))).first().getDouble(0)
      }
      iter += 1
    }
    if (tol > 0 && delta >= tol) throw new IllegalStateException(
      s"pageRank did not converge in $maxIters iterations (L1 delta $delta >= $tol); raise maxIters")
    rank
  }

  /** Declarative data-quality expectations (the Deequ/Great-Expectations
    * shape): evaluate a rule list over a DataFrame in ONE aggregate
    * pass and return (rule, n_checked, n_failed, pass) per rule. A rule
    * fails on rows where its predicate is not TRUE — NULL predicate
    * results count as failures (a null-tolerant rule must say so with
    * coalesce/isNull itself), so missing data can't silently pass.
    *
    * Scale: all rules ride one HashAggregate over one scan (conditional
    * counts), never one job per rule; the stack() to rows is driver-free
    * and runs on the single aggregate output row.
    */
  def expectations(df: DataFrame, rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "expectations needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size, "rule names must be unique")
    rules.foreach { case (name, _) =>
      require(name.matches("[A-Za-z0-9_]+"), s"rule name '$name' must be [A-Za-z0-9_]+") }
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map { case ((_, pred), i) =>
      count(when(!coalesce(pred, lit(false)), 1)).as(s"__f$i") }
    val one = df.agg(aggs.head, aggs.drop(1): _*)
    val stackArgs = rules.indices.map(i => s"'${rules(i)._1}', __f$i").mkString(", ")
    one.selectExpr(s"stack(${rules.size}, $stackArgs) AS (rule, n_failed)", "__n AS n_checked")
      .select(col("rule"), col("n_checked"), col("n_failed"),
        (col("n_failed") === 0).cast("long").as("pass"))
  }

  /** Near-dup clusters straight from text: distinct LSH candidate pairs
    * → connected components → (id, component, csize).
    */
  def nearDupComponents(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = minhashCandidates(df, idCol, textCol).select("id_a", "id_b")
    val labels = connectedComponents(df, idCol, pairs, "id_a", "id_b")
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("csize"))
    labels.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("csize"))
  }

  /** Brute-force cosine top-k of the probe row `probeId` against the
    * rows sharing its label (the probe itself excluded): the probe is
    * broadcast, the corpus streams, TakeOrderedAndProject keeps the
    * top-k per partition. Returns (id, cos) — the exact-search baseline.
    */
  def cosineKnn(corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      probeId: Long, topK: Int): DataFrame = {
    val probe = corpus.filter(col(idCol) === probeId)
      .select(col(vecCol).as("pvec"), col(labelCol).as("plabel"))
    corpus.join(broadcast(probe), col(labelCol) === col("plabel") && col(idCol) =!= probeId)
      .select(col(idCol),
        graft.functions.VectorFunctions.cosine(col(vecCol), col("pvec")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(topK)
  }

  /** IVF cell assignment: each row's nearest `seeds` vector (the cell
    * centroids, e.g. k trained or fixed rows with the input's columns).
    * The seeds are packed cid-sorted into ONE broadcast row and each
    * row's cell is a single native `argmin_sqdist` projection — the input
    * is never shuffled, windowed or self-joined. Returns
    * (idCol, vecCol, cid).
    */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String, seeds: DataFrame): DataFrame = {
    graft.expressions.VectorExpressions.register(df.sparkSession)
    val packed = seeds.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("cs"))
      .select(transform(col("cs"), _.getField("cid")).as("cids"),
        transform(col("cs"), _.getField("cvec")).as("cvecs"))
    df.crossJoin(broadcast(packed))
      .withColumn("cid", element_at(col("cids"), expr(s"argmin_sqdist($vecCol, cvecs)") + 1))
      .select(col(idCol), col(vecCol), col("cid"))
  }

  /** Deterministic train/valid/test split (80/10/10) by multiplicative
    * hash of the id — reproducible across runs, engines, partitionings;
    * membership computable from the id alone. Adds a `split` column.
    */
  def deterministicSplit(df: DataFrame, idCol: String): DataFrame = {
    // numeric ids only — a silent cast-to-null would classify every row
    // 'test'; fail loudly instead
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"deterministicSplit needs a numeric id column, got ${df.schema(idCol).dataType}")
    // a bare `id · A mod 100` would collapse any id stride divisible by
    // 100 into one split; [[idHash]] keeps the whole product
    val bucket = idHash(col(idCol)) % 100
    df.withColumn("split", when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"))
  }

  /** Inverse-frequency class weights (sklearn's "balanced" formula:
    * total / (k · class_count)), rounded 1e-6. Two tiny scalar
    * aggregates broadcast back over the per-class counts.
    */
  def classWeights(df: DataFrame, labelCol: String): DataFrame = {
    val totals = df.agg(count(lit(1)).cast("double").as("total"),
      countDistinct(labelCol).cast("double").as("k"))
    df.groupBy(labelCol).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totals))
      .select(col(labelCol), col("n"),
        round(col("total") / (col("k") * col("n")), 6).as("weight"))
  }

  /** Context-window chunking: one row per (id, chunk) of 32-token
    * windows with stride 24 (8-token overlap) — the long-document →
    * context-window preprocessing step. One explode per row, a pure map
    * stage; the chunk text is emitted as its md5 so output stays
    * bounded. Returns (idCol, chunk_id, n_toks, chunk_md5).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0L), floor((size(col("toks")) - 1) / lit(24)))).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        size(slice(col("toks"), (col("chunk_id") * 24 + 1).cast("int"), lit(32))).cast("long").as("n_toks"),
        md5(array_join(slice(col("toks"), (col("chunk_id") * 24 + 1).cast("int"), lit(32)), " ")).as("chunk_md5"))

  /** Deterministic sequence packing: rows stream in stable (group, id)
    * order and a running token count assigns each row to the 512-token
    * pack its prefix sum lands in — no rand, no greedy state, exact
    * integer arithmetic; the declarative approximation of first-fit
    * packing. The per-group prefix sum is the range-partitioned
    * [[groupRankPrefix]] (a group-keyed cumulative window would be a
    * |groups|-task sort). Returns (groupCol, pack_id, n_tok) per row.
    */
  def pack(df: DataFrame, idCol: String, textCol: String, groupCol: String): DataFrame =
    groupRankPrefix(
        df.select(col(idCol), col(groupCol),
          size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tok")),
        Seq(groupCol), Seq(col(idCol)), "__rk", "__ng", Seq(("n_tok", "cum", "")))
      .select(col(groupCol), floor((col("cum") - col("n_tok")) / lit(512)).as("pack_id"), col("n_tok"))

  /** Exact heavy hitters: tokens above 0.5% of the total token stream.
    * Two-level aggregate (map-side partial combine → merge) and one tiny
    * scalar broadcast for the threshold — the exact counterpart of a
    * count-min/space-saving sketch, valid at any scale because the group
    * count is vocabulary-bounded. Returns (tok, cnt, freq).
    */
  def heavyHitters(df: DataFrame, textCol: String): DataFrame = {
    val t = df.select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val tot = t.agg(count(lit(1)).cast("double").as("n"))
    t.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") > col("n") / 200)
      .select(col("tok"), col("cnt"), round(col("cnt") / col("n"), 6).as("freq"))
  }

  /** Benchmark-contamination screen: fraction of each row's token
    * n-gram shingles found in `benchmark`'s shingle set (broadcast),
    * with a `contaminated` flag past half. Returns (id, n_sh, n_hit,
    * overlap, contaminated); rows with fewer than `n` tokens have no
    * shingles and no output row. One pass over the exploded shingles:
    * a LEFT join on a hit marker, total and hits in one aggregate.
    */
  def contaminationScreen(train: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, n: Int = 3): DataFrame = {
    val bench = benchmark
      .select(explode(TextFunctions.tokenShingles(col(textCol), n)).as("sh")).distinct()
      .withColumn("is_hit", lit(1))
    train.select(col(idCol), explode(TextFunctions.tokenShingles(col(textCol), n)).as("sh"))
      .join(broadcast(bench), Seq("sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_sh"), count(col("is_hit")).as("n_hit"))
      .select(col(idCol), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh"), 6).as("overlap"),
        (col("n_hit").cast("double") / col("n_sh") > 0.5).as("contaminated"))
  }

  /** (id, w1, w2): one row per adjacent token pair of `textCol`. */
  private def bigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol),
        explode(arrays_zip(
          slice(toks, lit(1), size(toks) - 1).as("w1"),
          slice(toks, lit(2), size(toks) - 1).as("w2"))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** Gopher-style repetition screens: duplicate-token fraction and
    * top-bigram share per row (rounded 1e-6), flagged past 0.2 / 0.18 —
    * the SAME unrounded ratio feeds the flag, so a comparison cannot
    * straddle the rounding. Two per-row aggregates (map-side
    * combinable) joined agg↔agg; no corpus self-join.
    */
  def repetitionScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("t"))
      .select(col(idCol), size(col("t")).cast("long").as("n_tok"),
        size(array_distinct(col("t"))).cast("long").as("n_uniq"))
    val bt = bigrams(df, idCol, textCol)
      .groupBy(idCol, "w1", "w2").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max("c").as("top_c"), sum("c").as("n_big"))
    val dupF = (col("n_tok") - col("n_uniq")).cast("double") / col("n_tok")
    val topF = col("top_c").cast("double") / col("n_big")
    ts.join(bt, idCol)
      .select(col(idCol), col("n_tok"),
        round(dupF, 6).as("dup_token_frac"),
        round(topF, 6).as("top_bigram_frac"),
        when(dupF > 0.2 || topF > 0.18, 1L).otherwise(0L).as("flagged"))
  }

  /** N-gram novelty: the share of a row's distinct bigrams with corpus
    * document-frequency 1 (template/mirror detector), rounded 1e-6.
    * The document-frequency table is bigram-vocab-sized and carries no
    * broadcast hint — AQE sizes it (a raw 100 TB corpus has an
    * unbounded bigram "vocab").
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val b = bigrams(df, idCol, textCol).distinct()
    val dfreq = b.groupBy("w1", "w2").agg(count(lit(1)).as("nd"))
    b.join(dfreq, Seq("w1", "w2"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("nd") === 1, 1L).otherwise(0L)).cast("long").as("n_novel"),
        round(sum(when(col("nd") === 1, 1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("novel_frac"))
  }

  /** SemDeDup: assign each row to its [[ivfIndex]] cell over `seeds`,
    * compare pairs ONLY within a cell, and emit the keep-lowest-id drop
    * list for pairs with cosine ≥ `tau`. Candidate pairs go from O(n²) to
    * O(Σ cell²); the pair join shuffles on cell id only. Returns
    * (drop_id, keep_id, cid, n_dups).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, seeds: DataFrame,
      tau: Double): DataFrame = {
    val withCell = ivfIndex(df, idCol, vecCol, seeds)
    val a = withCell.select(col("cid"), col(idCol).as("ia"), col(vecCol).as("va"))
    val b = withCell.select(col("cid").as("cidb"), col(idCol).as("ib"), col(vecCol).as("vb"))
    a.join(b, col("cid") === col("cidb") && col("ia") < col("ib"))
      .filter(expr("cosine_similarity(va, vb)") >= tau)
      .groupBy(col("ib").as("drop_id"))
      .agg(min("ia").as("keep_id"), min("cid").as("cid"), count(lit(1)).as("n_dups"))
  }

  /** Temperature-flattened corpus mixture: per-group quota
    * = min(n, ceil(√n · 8)) — sampling rate ∝ n^(−1/2), i.e. the T=2
    * temperature reweighting a multilingual pretraining mix applies —
    * filled with the deterministic bottom-quota-by-hash rows. The quota
    * avoids cross-group normalization: sqrt is IEEE-correctly-rounded
    * and ×8 is a power of two, so engines agree bit for bit. Returns the
    * kept rows as (idCol, groupCol, rn, quota). One tiny aggregate plus
    * one range-partitioned per-group rank ([[exactGroupRankCount]]: a
    * group-keyed window would be a |groups|-task corpus sort, and the
    * per-group quota defeats WindowGroupLimit); the quotas broadcast.
    */
  def temperatureMixture(df: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val quotas = df.groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
      .select(col(groupCol),
        least(col("n_docs"),
          ceil(sqrt(col("n_docs").cast("double")) * 8).cast("long")).as("quota"))
    val prio = idHash(col(idCol))
    exactGroupRankCount(df.select(col(idCol), col(groupCol)),
        Seq(groupCol), Seq(prio, col(idCol)), "rn", "__n")
      .join(broadcast(quotas), groupCol)
      .filter(col("rn") <= col("quota"))
      .select(col(idCol), col(groupCol), col("rn"), col("quota"))
  }

  /** Group-wise top-k through the native mergeable `topk_by` aggregate:
    * ranks the top `k` rows per group under (ordCol DESC, tie1 ASC,
    * tie2 ASC) without ever sorting the input — map-side combine caps
    * shuffle volume at O(groups·k) (plan contract: ObjectHashAggregate
    * partial+final, no Window or Sort over the input). Returns
    * (groupCol, rnk, ord, tie1, tie2). The tie columns must uniquely
    * identify rows (SURVEY §2.12 rule 1).
    */
  def topKBy(df: DataFrame, groupCol: String, ordCol: String,
      tie1: String, tie2: String, k: Int): DataFrame = {
    graft.expressions.TopKByAgg.register(df.sparkSession)
    df.groupBy(groupCol)
      .agg(expr(s"topk_by($ordCol, $tie1, $tie2, $k)").as("top"))
      .select(col(groupCol), posexplode(col("top")))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rnk"),
        col("col.ord").as("ord"), col("col.tie1").as("tie1"), col("col.tie2").as("tie2"))
  }

  /** Per-dimension z-score standardization of a vector column: values
    * quantize to 10^-6 units FIRST, per-dim sufficient statistics are
    * exact integer sums (dim-bounded, broadcast back), z is one double
    * division of exact integers rounded 1e-6 — bit-identical under any
    * partitioning. Returns the exploded (idCol, dim, z) of the rows
    * `probe` keeps (the statistics cover every row); dims with zero
    * variance yield NULL z.
    */
  def standardize(df: DataFrame, idCol: String, vecCol: String,
      probe: org.apache.spark.sql.Column): DataFrame = {
    val el = df
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("dim"),
        floor(col("v").cast("double") * 1000000 + 0.5).cast("long").as("vi"))
    val st = el.groupBy("dim").agg(
      count(lit(1)).as("n"), sum("vi").as("s1"), sum(col("vi") * col("vi")).as("s2"))
    val dvar = col("n") * col("s2") - col("s1") * col("s1")
    el.filter(probe).join(broadcast(st), "dim")
      .select(col(idCol), col("dim"),
        when(dvar > 0,
          round((col("n") * col("vi") - col("s1")).cast("double")
            / sqrt(dvar.cast("double")), 6)).as("z"))
  }

  /** Join-key skew profile: the `topN` heaviest keys with their row
    * share and skew ratio (count ÷ mean rows per key), rounded 1e-6 —
    * run BEFORE a big shuffle join to choose between plain, salted and
    * AQE skew-split plans. One map-side-combinable aggregate + a 1-row
    * totals broadcast; ratios divide exact integers.
    */
  def skewProfile(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    val f = df.groupBy(keyCol).agg(count(lit(1)).as("n"))
    val t = f.agg(sum("n").as("total"), count(lit(1)).as("n_keys"))
    f.crossJoin(broadcast(t))
      .select(col(keyCol), col("n"),
        round(col("n").cast("double") / col("total").cast("double"), 6).as("share"),
        round((col("n") * col("n_keys")).cast("double") / col("total").cast("double"), 6)
          .as("skew_x"))
      .orderBy(col("n").desc, col(keyCol)).limit(topN)
  }

  /** Two-sample Kolmogorov–Smirnov test: D = sup_x |F1(x) − F2(x)|
    * between the `valueCol` distributions of rows where `groupCol` ==
    * groupA vs groupB. The supremum is reached at a data point, so both
    * ECDFs are evaluated on the merged DISTINCT-value grid; their two
    * prefix sums share ONE range shuffle ([[prefixSumN]], no one-task
    * window at any grid size) and the totals are the max of each
    * monotone cumsum. Returns one row (n1, n2, d_num, d_stat): the
    * integer core D·n1·n2 stays exact in BIGINT, d_stat rounds 1e-6.
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val src = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).as("v"),
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("ia"))
    val pts = src.groupBy("v")
      .agg(sum("ia").as("c1"), (count(lit(1)) - sum("ia")).as("c2"))
    val cum0 = prefixSumN(pts, Seq("v"), Seq("c1" -> "cum1", "c2" -> "cum2"))
      .select(col("cum1"), col("cum2"))
    val tot = cum0.agg(max("cum1").as("n1"), max("cum2").as("n2"))
    cum0.crossJoin(broadcast(tot))
      .groupBy("n1", "n2")
      .agg(max(abs(col("n2") * col("cum1") - col("n1") * col("cum2"))).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        round(col("d_num").cast("double")
          / (col("n1").cast("double") * col("n2").cast("double")), 6).as("d_stat"))
  }

  /** BM25 ranking (k1=1.2, b=0.75, Lucene-style idf): top `k` documents
    * for a bag-of-terms query. Per-(doc,term) scores are fixed IEEE
    * expressions over integer sufficient statistics (tf, df, dl, N, Σdl),
    * QUANTIZED to 1e-6 BEFORE the per-doc sum, so the multi-term
    * reduction has no float-addition-order hazard. df comes from the tf
    * table (one row per (doc, term)), not a fourth scan+explode pass;
    * df and corpus stats broadcast; tf is term-filtered BEFORE the
    * doc-length join. TakeOrdered top-k, then the rank window over just
    * k rows. Returns (idCol, score, rn).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot"))
    val tf = tok.filter(col("token").isin(terms: _*))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val avgdl = col("tot").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + 0.5)
      / (col("df").cast("double") + 0.5))
    val s6 = floor((idf
      * (col("tf").cast("double") * 2.2)
      / (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl)))
      * 1000000 + 0.5).cast("long")
    val total = tf.join(broadcast(dfq), "token")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), s6.as("s6"))
      .groupBy(idCol).agg(sum("s6").as("s6"))
    val w = Window.orderBy(col("s6").desc, col(idCol).asc)
    total.orderBy(col("s6").desc, col(idCol).asc).limit(k)
      .withColumn("rn", row_number().over(w))
      .select(col(idCol), (col("s6").cast("double") / 1000000).as("score"),
        col("rn").cast("long").as("rn"))
  }

  /** Population Stability Index: decile buckets from the REFERENCE
    * group's quantiles, per-bucket (p_ref − p_cur)·ln(p_ref/p_cur),
    * rounded 1e-6. Emitted per bucket: a PSI total is a float sum whose
    * accumulation order differs across engines, and per-bucket parts
    * are what an alerting rule thresholds anyway. ONE array-percentile
    * aggregate (each scalar `percentile` would buffer the full value set
    * in its own map); the 9 boundaries are a 1-row broadcast and bucket
    * assignment is nine codegen'd compares per row. Totals ride an
    * unpartitioned window over the ≤10 bucket rows — re-aggregating
    * would replay the percentile + bucket-assign subtree.
    * Returns (bucket, n_a, n_b, psi_part).
    */
  def psi(df: DataFrame, valueCol: String, groupCol: String,
      refGroup: String, curGroup: String): DataFrame = {
    val a = df.filter(col(groupCol) === refGroup).select(col(valueCol).as("v"))
    val b = df.filter(col(groupCol) === curGroup).select(col(valueCol).as("v"))
    val q = a.agg(expr(
        "percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("bb"))
      .select((1 to 9).map(i => element_at(col("bb"), i).as(s"b$i")): _*)
    val ab = a.withColumn("ia", lit(1L)).unionAll(b.withColumn("ia", lit(0L)))
    val bucket = (1 to 9).map(i => when(col("v") > col(s"b$i"), 1L).otherwise(0L))
      .foldLeft(lit(1L): org.apache.spark.sql.Column)(_ + _)
    val g = ab.crossJoin(broadcast(q))
      .select(bucket.cast("long").as("bucket"), col("ia"))
      .groupBy("bucket")
      .agg(sum("ia").as("n_a"), (count(lit(1)) - sum("ia")).as("n_b"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pa = col("n_a").cast("double") / col("ta").cast("double")
    val pb = col("n_b").cast("double") / col("tb").cast("double")
    g.withColumn("ta", sum("n_a").over(wAll))
      .withColumn("tb", sum("n_b").over(wAll))
      .select(col("bucket"), col("n_a"), col("n_b"),
        round((pa - pb) * log(pa / pb), 6).as("psi_part"))
  }

  /** First-order Markov transition matrix: P(next = b | current = a)
    * over each key's `stateCol` sequence ordered by `orderCols` (include
    * a unique tiebreaker column — without one, equal order keys make the
    * sequence, and thus the counts, nondeterministic). ONE scan: a
    * per-key lead window, a |states|²-bounded count aggregate, and row
    * totals riding that table as a window. p is quantized to 1e-6.
    */
  def transitionMatrix(df: DataFrame, keyCol: String, stateCol: String,
      orderCols: Seq[String]): DataFrame = {
    val seq = df.select(col(stateCol).as("a"),
      lead(col(stateCol), 1).over(
        Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)).as("b"))
    val tr = seq.filter(col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    tr.withColumn("c_a", sum("c").over(Window.partitionBy("a")))
      .select(col("a"), col("b"), col("c"), col("c_a"),
        (floor(col("c").cast("double") / col("c_a").cast("double") * 1000000 + 0.5) / 1000000).as("p"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * the `n` rows with the largest key = ln(u)/w, where u ∈ (0,1]
    * derives from the overflow-safe multiplicative hash of `idCol`
    * (q_text_13's split hash) — reproducible across runs, engines and
    * partitionings, unlike rand()-keyed sampling. P(row selected) ∝
    * `weightCol` (positive weights). Keys are 1e-9-quantized integers
    * ranked (key9, id) — a total order. Returns (idCol, weightCol, key,
    * rn). At 100 TB the global top-n becomes q_agg_23's mergeable heap
    * rather than a full sort.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      n: Int): DataFrame = {
    val h = df.select(col(idCol), col(weightCol),
      (((col(idCol) % 1000000007L) * 2654435761L) % 1000000007L).as("hv"))
    val k = h.select(col(idCol), col(weightCol),
      floor(log((col("hv") + 1).cast("double") / 1000000008.0)
        / col(weightCol).cast("double") * 1000000000 + 0.5).cast("long").as("key9"))
    k.withColumn("rn", row_number().over(Window.orderBy(col("key9").desc, col(idCol))))
      .filter(col("rn") <= n)
      .select(col(idCol), col(weightCol),
        (col("key9").cast("double") / 1000000000).as("key"), col("rn").cast("long").as("rn"))
  }

  /** Welch's unequal-variance t-test with the Welch–Satterthwaite df
    * between `groupA` and `groupB`'s `valueCol` samples. Values are
    * cents-quantized (`floor(v·100+0.5)`), so the six sufficient
    * statistics (n, Σv, Σv² per arm) are exact BIGINT sums from ONE
    * map-side-combinable aggregate on any engine or partitioning; t and
    * df are fixed IEEE expressions over them (squares written x·x —
    * libm pow() is not guaranteed correctly rounded), quantized to 1e-6.
    * Σv² must stay within int64: |v·100| up to ~3e9 rows (DECIMAL(38)
    * beyond).
    */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val st = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).as("g"),
        floor(col(valueCol) * 100 + 0.5).cast("long").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"), sum(col("v") * col("v")).as("sv2"))
    val p = st.agg(
      max(when(col("g") === groupA, col("n"))).as("n1"),
      max(when(col("g") === groupA, col("sv"))).as("sv1"),
      max(when(col("g") === groupA, col("sv2"))).as("sq1"),
      max(when(col("g") === groupB, col("n"))).as("n2"),
      max(when(col("g") === groupB, col("sv"))).as("svb"),
      max(when(col("g") === groupB, col("sv2"))).as("sq2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val e1 = (n1 * col("sq1").cast("double") - col("sv1").cast("double") * col("sv1").cast("double")) / (n1 * (n1 - 1) * n1)
    val e2 = (n2 * col("sq2").cast("double") - col("svb").cast("double") * col("svb").cast("double")) / (n2 * (n2 - 1) * n2)
    p.withColumn("e1", e1).withColumn("e2", e2)
      .select(col("n1"), col("n2"),
        (floor((col("sv1").cast("double") / n1 - col("svb").cast("double") / n2)
          / sqrt(col("e1") + col("e2")) * 1000000 + 0.5) / 1000000).as("t"),
        (floor((col("e1") + col("e2")) * (col("e1") + col("e2"))
          / (col("e1") * col("e1") / (n1 - 1) + col("e2") * col("e2") / (n2 - 1)) * 1000000 + 0.5) / 1000000).as("df"))
  }

  /** nDCG@10 per query group: rank by (`scoreCol` DESC, `idCol`), binary
    * relevance from the predicate `relevant`. DCG and ideal DCG are
    * BIGINT sums of the 1e6-quantized discount weights
    * ([[graft.operators.Round4Ops.ndcgW]], log2 evaluated at plan-build
    * time only) — one division at the end; groups with no relevant rows
    * report 0. Two ranking windows + one agg, all partitioned by the
    * group key. Returns (groupCol, n_docs, n_rel, ndcg).
    */
  def ndcgAtK(df: DataFrame, groupCol: String, scoreCol: String, idCol: String,
      relevant: org.apache.spark.sql.Column): DataFrame = {
    val wArr = array(graft.operators.Round4Ops.ndcgW.map(lit): _*)
    val byRank = Window.partitionBy(groupCol).orderBy(col(scoreCol).desc, col(idCol))
    val byIdeal = Window.partitionBy(groupCol).orderBy(col("rel").desc, col("rn"))
    df.select(col(groupCol), when(relevant, 1).otherwise(0).as("rel"),
        row_number().over(byRank).cast("long").as("rn"))
      .withColumn("irn", row_number().over(byIdeal).cast("long"))
      .groupBy(groupCol)
      .agg(
        sum(when(col("rel") === 1 && col("rn") <= 10,
          element_at(wArr, col("rn").cast("int"))).otherwise(0L)).as("dcgq"),
        sum(when(col("rel") === 1 && col("irn") <= 10,
          element_at(wArr, col("irn").cast("int"))).otherwise(0L)).as("idcgq"),
        count(lit(1)).as("n_docs"), sum("rel").cast("long").as("n_rel"))
      .select(col(groupCol), col("n_docs"), col("n_rel"),
        when(col("idcgq") > 0,
          round(col("dcgq").cast("double") / col("idcgq").cast("double"), 6))
          .otherwise(0.0).as("ndcg"))
  }

  /** Deterministic 5-fold assignment: `fold` ∈ [0, 5) as a pure function
    * of the stable id — q_text_13's mod-P multiplicative hash, so
    * membership is run/engine/partitioning-independent and stable under
    * corpus growth (old rows never change fold).
    */
  def kfold(idCol: String): org.apache.spark.sql.Column =
    idHash(col(idCol)) % 5

  /** Per-group cap: keep the top `cap` rows per `groupCol` by
    * (`qualityCol` DESC, `idCol`) — the "max N pages per domain" rule,
    * or top-N per group. The rank filter sits directly on the window, so
    * WindowGroupLimit prunes past the cap inside each partition.
    * Returns the kept rows.
    */
  def capPerGroup(df: DataFrame, groupCol: String, qualityCol: String,
      idCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(qualityCol).desc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap).drop("__rn")
  }

  /** Last-touch attribution: credit each `convType` event to the actor's
    * most recent PRECEDING event of a different type via one
    * `last(..., ignoreNulls) ROWS UNBOUNDED PRECEDING..-1` carry-forward
    * window (q_time_2_ffill's primitive) — no predecessor self-join.
    * Conversions with no prior touch land in an explicit 'none' bucket.
    * Gap sums ride as exact BIGINT microseconds; the mean is one
    * closed-form division. One actor-keyed window, then a
    * channel-bounded aggregate. Returns (channel, n, share, mean_gap_min).
    */
  def lastTouchAttribution(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, convType: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsCol, idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = df.select(col(idCol), col(userCol), col(tsCol), col(typeCol),
      last(when(col(typeCol) =!= convType, col(typeCol)), ignoreNulls = true)
        .over(w).as("src_type"),
      last(when(col(typeCol) =!= convType, unix_micros(col(tsCol))), ignoreNulls = true)
        .over(w).as("src_us"))
    val p = e.filter(col(typeCol) === convType)
      .select(coalesce(col("src_type"), lit("none")).as("channel"),
        when(col("src_us").isNotNull, unix_micros(col(tsCol)) - col("src_us")).as("gap_us"))
    val g = p.groupBy("channel").agg(count(lit(1)).as("n"),
      sum("gap_us").cast("long").as("gsum"), count("gap_us").as("gn"))
    g.withColumn("tot", sum("n").over(Window.partitionBy()))
      .select(col("channel"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("share"),
        when(col("gn") > 0,
          round(col("gsum").cast("double") / col("gn") / 60000000L, 2))
          .otherwise(0.0).as("mean_gap_min"))
  }

  /** DAU / trailing-7-day WAU / stickiness per day. WAU avoids both a
    * windowed COUNT DISTINCT (not expressible as a window) and a
    * days×users join: each (user, active-day) row CONTRIBUTES itself to
    * the 7 calendar days it keeps the user weekly-active (explode of a
    * 7-element sequence), and a plain distinct count per day finishes —
    * O(7·|user-days|). Warm-up days (first 6) are excluded. Two
    * (user, day)-keyed distincts + one day-keyed agg; all counts exact.
    */
  def dauWau(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ud = df.select(col(userCol), expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val contrib = ud.select(col(userCol),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .distinct()
    val wau = contrib.groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    val d0 = ud.agg(min("day").as("d0"))
    dau.join(wau, "day").crossJoin(broadcast(d0))
      .filter(col("day") >= col("d0") + 6)
      .select(col("day").cast("long").as("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  /** Bollinger bands over a per-period integer (cents) series: 7-period
    * rolling mean ± 2 rolling sample std with an outside flag. The
    * rolling moments are exact BIGINT window sums of `valueCol` and its
    * square; mean/band/flag are fixed IEEE expressions in cents,
    * divided to dollars only at emission. Warm-up rows (fewer than 7
    * periods) are excluded. Period-table windows (repartitionByRange at
    * 100 TB).
    */
  def bollingerBands(daily: DataFrame, dayCol: String, valueCol: String): DataFrame = {
    val win = Window.orderBy(dayCol).rowsBetween(-6, 0)
    val w = daily.select(col(dayCol), col(valueCol),
      count(lit(1)).over(win).as("k"),
      sum(valueCol).over(win).as("s"),
      sum(col(valueCol) * col(valueCol)).over(win).as("ss"))
    val mean = col("s").cast("double") / col("k")
    val band = lit(2) * sqrt((col("k").cast("double") * col("ss")
      - col("s").cast("double") * col("s"))
      / (col("k").cast("double") * col("k") * (col("k") - 1)))
    w.filter(col("k") === 7)
      .select(col(dayCol).cast("long").as(dayCol),
        round(col(valueCol).cast("double") / 100, 2).as("daily_value"),
        round(mean / 100, 2).as("mid"),
        round((mean - band) / 100, 2).as("lower_band"),
        round((mean + band) / 100, 2).as("upper_band"),
        when(col(valueCol).cast("double") < mean - band
          || col(valueCol).cast("double") > mean + band, 1L).otherwise(0L).as("outside"))
  }

  /** Maximum drawdown of a per-period integer (cents) net series:
    * cumulative sum and running peak via two stacked exact-BIGINT prefix
    * windows (sum then max — composable because both are ROWS UNBOUNDED
    * PRECEDING), then the deepest peak-minus-current with
    * earliest-period tiebreak. One-row result (trough_day, n_days,
    * cum_at_trough, peak_before, max_drawdown, dd_frac).
    */
  def maxDrawdown(daily: DataFrame, dayCol: String, netCol: String): DataFrame = {
    val prefix = Window.orderBy(dayCol).rowsBetween(Window.unboundedPreceding, 0)
    val r = daily
      .withColumn("cum", sum(netCol).over(prefix))
      .withColumn("peak", max("cum").over(prefix))
    val x = r.withColumn("dd", col("peak") - col("cum"))
      .withColumn("rn", row_number().over(Window.orderBy(col("dd").desc, col(dayCol))))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
    x.filter(col("rn") === 1)
      .select(col(dayCol).cast("long").as("trough_day"), col("nd").as("n_days"),
        round(col("cum").cast("double") / 100, 2).as("cum_at_trough"),
        round(col("peak").cast("double") / 100, 2).as("peak_before"),
        round(col("dd").cast("double") / 100, 2).as("max_drawdown"),
        round(col("dd").cast("double") / col("peak"), 6).as("dd_frac"))
  }

  /** Herfindahl–Hirschman concentration of `valueCol` over `keyCol`
    * within each `groupCol`: HHI = Σ(sᵢ/S)² (1 = monopoly, 1/n = even
    * split) plus the top-key share. A pure rational off exact integer
    * values: per-key squares accumulate in DECIMAL(38,0) (sᵢ² nears
    * int64 quickly), one closed-form division per group. Returns
    * (groupCol, n_keys, total, hhi, top_share).
    */
  def hhi(df: DataFrame, groupCol: String, keyCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val su = df.groupBy(groupCol, keyCol).agg(sum(valueCol).as("s"))
    su.groupBy(groupCol).agg(count(lit(1)).as("n_keys"), sum("s").as("total"),
        sum(col("s").cast(DecimalType(38, 0)) * col("s")).as("sumsq"), max("s").as("mx"))
      .select(col(groupCol), col("n_keys"), col("total"),
        round(col("sumsq").cast("double")
          / (col("total").cast("double") * col("total").cast("double")), 6).as("hhi"),
        round(col("mx").cast("double") / col("total"), 6).as("top_share"))
  }

  /** Lorenz curve of `valueCol` by decile: each decile's share and the
    * cumulative share — the curve whose area deficit is the Gini
    * coefficient. Deciles are the builtin-identical ntile(10) over the
    * totally ordered (value, id) stream, computed as
    * [[exactGlobalRankByN]] + [[ntileOfRank]] (range-partitioned — no
    * one-task window; the row count comes off the rank helper's
    * histogram pass); shares are exact BIGINT rationals off the 10-row
    * table. `df` holds exactly (valueCol, idCol).
    */
  def lorenzCurve(df: DataFrame, idCol: String, valueCol: String): DataFrame = {
    val (nE, ranked) = exactGlobalRankByN(df, Seq(col(valueCol), col(idCol)), "__rk")
    val b = ranked.select(col(valueCol), ntileOfRank(col("__rk"), nE, 10).as("decile"))
    val g = b.groupBy("decile").agg(count(lit(1)).as("n"), sum(valueCol).as("s"))
    g.withColumn("cum", sum("s").over(Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum("s").over(Window.partitionBy()))
      .select(col("decile"), col("n"),
        round(col("s").cast("double") / col("tot"), 6).as("share"),
        round(col("cum").cast("double") / col("tot"), 6).as("cum_share"))
  }

  /** Cohen's d on the pooled std plus the small-sample-corrected Hedges'
    * g = d·(1 − 3/(4N−9)) between groups `g1` and `g0` of an integer
    * (cents) value column. Both groups' (n, Σ, Σ²) are exact BIGINTs from
    * one map-side-combinable scan; d and g are single IEEE closed forms.
    * Returns (n1, n0, mean_1, mean_0, cohen_d, hedges_g), means in units
    * of 1/100.
    */
  def effectSize(df: DataFrame, valueCol: String, groupCol: String,
      g1: String, g0: String): DataFrame = {
    val g = df.groupBy(groupCol).agg(count(lit(1)).as("n"), sum(valueCol).as("s"),
      sum(col(valueCol) * col(valueCol)).as("ss"))
    val p = g.agg(
      max(when(col(groupCol) === g1, col("n"))).as("n1"),
      max(when(col(groupCol) === g1, col("s"))).as("s1"),
      max(when(col(groupCol) === g1, col("ss"))).as("ss1"),
      max(when(col(groupCol) === g0, col("n"))).as("n0"),
      max(when(col(groupCol) === g0, col("s"))).as("s0"),
      max(when(col(groupCol) === g0, col("ss"))).as("ss0"))
    val m1 = col("s1").cast("double") / col("n1")
    val m0 = col("s0").cast("double") / col("n0")
    val pooled = sqrt(((col("ss1").cast("double") - col("s1").cast("double") * col("s1") / col("n1"))
      + (col("ss0").cast("double") - col("s0").cast("double") * col("s0") / col("n0")))
      / (col("n1") + col("n0") - 2))
    val dEff = (m1 - m0) / pooled
    p.select(col("n1"), col("n0"),
      round(m1 / 100, 2).as("mean_1"),
      round(m0 / 100, 2).as("mean_0"),
      round(dEff, 6).as("cohen_d"),
      round(dEff * (lit(1) - lit(3.0) / (lit(4.0) * (col("n1") + col("n0")) - 9)), 6).as("hedges_g"))
  }

  /** Per-label cosine between the centroids of two deterministic halves
    * of a vector set (the house stable-id hash) — the batch-over-batch
    * embedding-drift check run after every model refresh (near 1 ⇒
    * stable geometry). The per-half mean normalizations CANCEL inside
    * the cosine, so it is computed ENTIRELY from exact integer sums of
    * 1e-6-quantized components, products in DECIMAL(38,0) — no float
    * accumulates across rows or dims. posexplode is a projection; the
    * only shuffle is the (label, dim)-keyed agg. Returns
    * (labelCol, n_a, n_b, centroid_cosine).
    */
  def centroidShift(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val h = df.select(col(idCol), col(labelCol), col(vecCol),
      (col(idCol) % 1000000007L * 2654435761L % 1000000007L % 2).as("half"))
    val x = h.select(col(labelCol), col("half"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col(labelCol), col("half"), col("dim"),
        floor(col("v").cast("double") * 1000000L + 0.5).cast("long").as("q"))
    val c = x.groupBy(labelCol, "dim").agg(
      sum(when(col("half") === 0, col("q")).otherwise(0L)).as("sa"),
      sum(when(col("half") === 1, col("q")).otherwise(0L)).as("sb"))
    val n = h.groupBy(labelCol).agg(
      sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
    val dd = c.groupBy(labelCol).agg(
      sum(col("sa").cast(DecimalType(38, 0)) * col("sb")).as("dot"),
      sum(col("sa").cast(DecimalType(38, 0)) * col("sa")).as("qa"),
      sum(col("sb").cast(DecimalType(38, 0)) * col("sb")).as("qb"))
    dd.join(n, labelCol)
      .select(col(labelCol).cast("long").as(labelCol), col("na").as("n_a"), col("nb").as("n_b"),
        round(col("dot").cast("double")
          / (sqrt(col("qa").cast("double")) * sqrt(col("qb").cast("double"))), 6)
          .as("centroid_cosine"))
  }

  /** Winsorized mean per group: clamp `valueCol` into its exact 5th/95th
    * group percentiles and average — keeps tail rows at the boundary
    * (contrast a trimmed mean, which drops them). The clamped value is
    * cents-quantized BEFORE summation, so the mean (rounded to 2 dp) is
    * an exact-integer sum under any partitioning. ONE array-percentile
    * buffer per group is the only wide exchange; the boundary table
    * broadcasts back. Returns (groupCol, n, winsor_mean).
    */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val p = df.groupBy(groupCol)
      .agg(expr(s"percentile($valueCol, array(0.05, 0.95))").as("pp"))
      .select(col(groupCol),
        element_at(col("pp"), 1).as("p05"), element_at(col("pp"), 2).as("p95"))
    val cents = when(col(valueCol) < col("p05"),
        floor(col("p05") * 100 + 0.5).cast("long"))
      .when(col(valueCol) > col("p95"),
        floor(col("p95") * 100 + 0.5).cast("long"))
      .otherwise(floor(col(valueCol) * 100 + 0.5).cast("long"))
    df.join(broadcast(p), groupCol)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        round(sum(cents).cast("double") / (count(lit(1)).cast("double") * 100), 2)
          .as("winsor_mean"))
  }

  /** RFM quintile segmentation over a per-id aggregate table
    * (idCol, recency, frequency, monetary — exact integers, e.g. last
    * micros, counts, cents): builtin-identical ntile(5) per axis, DESC
    * with the id as total-order tie-break (score 1 = best), then the
    * population of each (r, f, m) segment. Each ntile is
    * [[exactGlobalRankByN]]/[[exactGlobalRankBy]] + [[ntileOfRank]] —
    * three range shuffles of the checkpointed table, no one-task window
    * even when ids scale with the fact; n rides the first rank's count
    * pass. Returns (r, f, m, n_users).
    */
  def rfmSegments(df: DataFrame, idCol: String, recencyCol: String, freqCol: String,
      monetaryCol: String): DataFrame = {
    val u = df.localCheckpoint()
    val (nU, rRank) = exactGlobalRankByN(u, Seq(col(recencyCol).desc, col(idCol)), "__rk")
    def score(ranked: DataFrame, out: String) =
      ranked.select(col(idCol), ntileOfRank(col("__rk"), nU, 5).as(out))
    score(rRank, "r")
      .join(score(exactGlobalRankBy(u, Seq(col(freqCol).desc, col(idCol)), "__rk"), "f"), idCol)
      .join(score(exactGlobalRankBy(u, Seq(col(monetaryCol).desc, col(idCol)), "__rk"), "m"), idCol)
      .groupBy(col("r").cast("long").as("r"), col("f").cast("long").as("f"),
        col("m").cast("long").as("m"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** HITS hubs/authorities, two unrolled iterations: who FEEDS the
    * important nodes (hub) vs who IS fed by them (authority). Each
    * half-step is one edge join + integer sum; the L1 normalization is
    * int/int quantized 1e-6, so the next half-step consumes exact
    * integers again. Score tables are |V|-sized, so the half-step joins
    * carry NO broadcast hint (a forced broadcast of a node-scaled table
    * is a hard failure at 10⁸⁺ nodes; AQE sizes it at runtime) — only
    * the 1-row L1 total is hinted. `edges` must be distinct (and is read
    * four times: pass a materialized list). Returns (node, authority,
    * hub) for every node with an authority score.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    def l1norm(df: DataFrame): DataFrame = {
      val tot = df.agg(sum("v").as("tot"))
      df.crossJoin(broadcast(tot))
        .select(col("node"),
          floor(col("v").cast("double") / col("tot") * 1000000 + 0.5).cast("long").as("v"))
    }
    def step(scores: DataFrame, from: String, to: String): DataFrame =
      l1norm(edges.join(scores, col(from) === col("node"))
        .groupBy(col(to).as("node2")).agg(sum("v").as("v"))
        .withColumnRenamed("node2", "node"))
    val h1 = l1norm(edges.groupBy(col(srcCol).as("node")).agg(count(lit(1)).as("v")))
    val a1 = step(h1, srcCol, dstCol)
    val h2 = step(a1, dstCol, srcCol)
    val a2 = step(h2, srcCol, dstCol)
    a2.select(col("node"), col("v"))
      .join(h2.select(col("node").as("hn"), col("v").as("hv")),
        col("node") === col("hn"), "left_outer")
      .select(col("node"), (col("v") / 1000000.0).as("authority"),
        (coalesce(col("hv"), lit(0L)) / 1000000.0).as("hub"))
  }

  /** Deterministic half-sample bootstrap CI for the mean of an exact
    * integer (cents) column: 32 replicates, each the mean over a
    * hash-selected half of the rows — membership is the overflow-safe
    * multiplicative hash (q_scan_13 family) salted by replicate id, so
    * no RNG and any partitioning reproduces it. Each replicate mean
    * rounds to integer cents BEFORE the sort, so the 2nd/31st picks
    * compare integers. The input explodes ×32 but aggregates map-side
    * to 32 groups — one 32-row shuffle at any scale. Returns one row
    * (mean_all, ci_lo, ci_hi) in units of 1/100, rounded 2 dp.
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String): DataFrame = {
    val P = 1000000007L
    val o = df.select(col(idCol), col(valueCol)).localCheckpoint()
    val reps = o.withColumn("b", explode(expr("sequence(1, 32)")))
      .filter(((col(idCol) + col("b") * 131) % P) * 2654435761L % P < P / 2)
      .groupBy("b").agg(count(lit(1)).as("n"), sum(valueCol).as("s"))
    val means = reps.select(
      floor(col("s").cast("double") / col("n") + 0.5).cast("long").as("mean_c"))
    val srt = means.agg(sort_array(collect_list("mean_c")).as("ms"))
    val pt = o.agg(round(sum(valueCol).cast("double") / count(lit(1)) / 100, 2).as("mean_all"))
    pt.crossJoin(broadcast(srt))
      .select(col("mean_all"),
        round(element_at(col("ms"), 2).cast("double") / 100, 2).as("ci_lo"),
        round(element_at(col("ms"), 31).cast("double") / 100, 2).as("ci_hi"))
  }

  /** MACD(12, 26, 9) over a per-period integer (cents) series: fast EMA
    * − slow EMA, then an EMA of that difference as the signal line, for
    * the last `lastN` periods. Both EMAs fold the SAME materialized
    * prefix list in frame order (seedless DuckDB list_reduce semantics
    * mirrored with slice+element_at); α = 2/13, 2/27, 0.2 are IEEE
    * divisions of exact integers, bit-identical across engines. The
    * MACD series quantizes to 1e-6 of the emitted unit BEFORE the signal
    * fold, so the second recursion consumes identical doubles. The
    * prefix lists total O(periods²/2) elements — bounded by the
    * calendar, not the fact table. Returns (day, macd, signal, histogram).
    */
  def macd(daily: DataFrame, dayCol: String, valueCol: String, lastN: Int): DataFrame = {
    val w = Window.orderBy(dayCol).rowsBetween(Window.unboundedPreceding, 0)
    def ema(vals: org.apache.spark.sql.Column, alpha: org.apache.spark.sql.Column) =
      aggregate(slice(vals, lit(2), size(vals) - 1), element_at(vals, 1),
        (a, x) => (lit(1) - alpha) * a + alpha * x)
    val m = daily
      .select(col(dayCol), collect_list(col(valueCol).cast("double")).over(w).as("vals"))
      .select(col(dayCol),
        floor((ema(col("vals"), lit(2.0) / 13) - ema(col("vals"), lit(2.0) / 27))
          / 100 * 1000000 + 0.5).cast("long").as("macd6"))
    val sig = m.select(col(dayCol), col("macd6"),
      collect_list(col("macd6").cast("double") / 1000000).over(w).as("ms"))
    val f = sig.select(col(dayCol), col("macd6"),
        floor(aggregate(slice(col("ms"), lit(2), size(col("ms")) - 1), element_at(col("ms"), 1),
          (a, x) => lit(0.8) * a + lit(0.2) * x) * 10000 + 0.5).cast("long").as("sig4"))
      .withColumn("rn", row_number().over(Window.orderBy(col(dayCol).desc)))
      .filter(col("rn") <= lastN)
    f.select(col(dayCol).cast("long").as("day"),
      (col("macd6") / 1000000.0).as("macd"),
      (col("sig4") / 10000.0).as("signal"),
      round(col("macd6") / 1000000.0 - col("sig4") / 10000.0, 4).as("histogram"))
  }

  /** Benjamini–Hochberg step-up over a small p-value table: `p6Col` holds
    * p-values quantized to 1e-6 integers; rank ascending (id tie-break)
    * and reject the prefix up to the largest k with
    * p6·m/α ≤ k·1e6 — an exact integer comparison, `mOverAlpha` = m/α
    * (e.g. 25 tests at α = 0.1 → 250). The rank is one global window:
    * keep the table test-count-sized. Returns the input plus
    * (k, rejected).
    */
  def benjaminiHochberg(df: DataFrame, idCol: String, p6Col: String,
      mOverAlpha: Long): DataFrame = {
    val rk = df.withColumn("k", row_number().over(Window.orderBy(col(p6Col), col(idCol))))
    val km = rk.agg(max(when(col(p6Col) * mOverAlpha <= col("k") * 1000000L, col("k")).otherwise(0L))
      .as("kmax"))
    rk.crossJoin(broadcast(km))
      .withColumn("rejected", when(col("k") <= col("kmax"), 1L).otherwise(0L))
      .drop("kmax")
  }

  /** Frequency-weighted mean/variance of an integer `valueCol` with
    * integer weights: three weighted power sums as exact BIGINTs, mean
    * and variance single IEEE expressions per group, rounded 1e-4.
    * Returns (groupCol, w_mean, w_var).
    */
  def weightedVariance(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val m = df.groupBy(groupCol)
      .agg(sum(weightCol).as("ws"), sum(col(weightCol) * col(valueCol)).as("swx"),
        sum(col(weightCol) * col(valueCol) * col(valueCol)).as("swxx"))
    def D(c0: String) = col(c0).cast("double")
    m.select(col(groupCol),
      round(D("swx") / col("ws"), 4).as("w_mean"),
      round(D("swxx") / col("ws") - (D("swx") / col("ws")) * (D("swx") / col("ws")), 4)
        .as("w_var"))
  }

  /** Duplicate downweighting: every row keeps weight floor(1e6/k), k =
    * its exact-dup cluster size on `textCol`'s md5 digest — the
    * training-mix alternative to dropping duplicates (it keeps the
    * distribution while bounding any one text's influence). The weight
    * is an exact integer, so Σ w6/1e6 (the effective size) is an exact
    * sum; the digest groupBy is a 16-byte-key shuffle and the weight
    * join rides the same digest partitioning. Returns (groupCol, w6).
    */
  def softDedupWeights(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val c = df.select(col(groupCol), md5(col(textCol)).as("dg"))
    val k = c.groupBy("dg").agg(count(lit(1)).as("k"))
    c.join(k, Seq("dg")).select(col(groupCol), (lit(1000000L) / col("k")).cast("long").as("w6"))
  }

  /** FK containment: the share of `fact`'s distinct `fkCol` values
    * present in `dim`'s (unique) `keyCol`. One distinct on the fact side
    * + ONE left-outer broadcast join against the dimension key, then a
    * single aggregate reading both counts off the same pass —
    * n_contained = count(matched key) IS the semi-join cardinality since
    * the key is unique. The FK side never carries payload columns into
    * the shuffle. One row (n_distinct, n_contained, containment).
    */
  def containment(fact: DataFrame, fkCol: String, dim: DataFrame, keyCol: String): DataFrame =
    fact.select(col(fkCol)).distinct()
      .join(broadcast(dim.select(col(keyCol))), col(fkCol) === col(keyCol), "left")
      .agg(count(lit(1)).as("n_distinct"), count(col(keyCol)).as("n_contained"))
      .select(col("n_distinct"), col("n_contained"),
        (floor(col("n_contained").cast("double") / col("n_distinct") * 1000000 + 0.5)
          / 1000000).as("containment"))

  /** Pareto concentration: per group, the smallest number of ids
    * covering 80% of the group's integer `valueCol` total — the inverse
    * readout of a Lorenz curve. `df` holds one row per (group, id). The
    * threshold is the exact integer comparison 5·cum ≥ 4·tot (no float
    * decides the crossing row); the ranking orders on the exact value
    * with id tie-break. Returns (groupCol, n_ids, top_n, id_share).
    */
  def pareto(df: DataFrame, groupCol: String, idCol: String, valueCol: String): DataFrame = {
    val wOrd = Window.partitionBy(groupCol).orderBy(col(valueCol).desc, col(idCol))
    val wAll = Window.partitionBy(groupCol)
    val rk = df.select(col(groupCol), col(valueCol),
      sum(valueCol).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)).as("cum"),
      sum(valueCol).over(wAll).as("tot"),
      row_number().over(wOrd).as("rn"),
      count(lit(1)).over(wAll).as("n"))
    rk.groupBy(groupCol)
      .agg(min("n").as("n_ids"),
        min(when(lit(5) * col("cum") >= lit(4) * col("tot"), col("rn"))).cast("long")
          .as("top_n"),
        (floor(min(when(lit(5) * col("cum") >= lit(4) * col("tot"), col("rn"))).cast("double")
          / min("n") * 1000000 + 0.5) / 1000000).as("id_share"))
  }

  /** Ratio-to-parent: for rows of an integer `valueCol` keyed under
    * `parentCol`, each row's share of its parent and of the grand total — the
    * ratio-to-parent column every OLAP report adds to a rollup. Both
    * totals derive from the aggregate via window sums, never
    * re-scanning the input. Returns the input columns plus
    * share_of_parent and share_of_total.
    */
  def shareOfParent(df: DataFrame, parentCol: String, valueCol: String): DataFrame = {
    val wr = Window.partitionBy(parentCol)
    val wt = Window.partitionBy()
    df.select(col("*"),
      (floor(col(valueCol).cast("double") / sum(valueCol).over(wr) * 1000000 + 0.5) / 1000000)
        .as("share_of_parent"),
      (floor(col(valueCol).cast("double") / sum(valueCol).over(wt) * 1000000 + 0.5) / 1000000)
        .as("share_of_total"))
  }

  /** Moving-average crossovers: periods where SMA(5) of an integer series
    * crosses SMA(20) — the golden/death-cross regime-change signal.
    * Complete windows only; the crossing is a sign change of the exact
    * integer 4·s5 − s20 (the ×20 LCM form, so no float division decides
    * a crossing) between consecutive periods. Returns (day, direction),
    * direction +1 = golden cross (fast moves above slow).
    */
  def smaCrossovers(daily: DataFrame, dayCol: String, valueCol: String): DataFrame = {
    val w5 = Window.orderBy(dayCol).rowsBetween(-4, 0)
    val w20 = Window.orderBy(dayCol).rowsBetween(-19, 0)
    val w = daily.select(col(dayCol),
      sum(valueCol).over(w5).as("s5"), count(lit(1)).over(w5).as("k5"),
      sum(valueCol).over(w20).as("s20"), count(lit(1)).over(w20).as("k20"))
    val sig = w.filter(col("k5") === 5 && col("k20") === 20)
      .select(col(dayCol), (lit(4) * col("s5") - col("s20")).as("diff"))
      .withColumn("prev", lag("diff", 1).over(Window.orderBy(dayCol)))
    sig.filter((col("prev") <= 0 && col("diff") > 0) || (col("prev") > 0 && col("diff") <= 0))
      .select(col(dayCol).cast("long").as("day"),
        when(col("prev") <= 0 && col("diff") > 0, 1L).otherwise(-1L).as("direction"))
  }

  /** D1/D7/D30 retention: of all ids, the share active again exactly
    * 1/7/30 days after their FIRST day. `df` holds (idCol, dayCol) rows;
    * the activity dedups once, and each probe is one left_semi join
    * against it keyed on (id, d0+k); all counts exact integers. One row
    * (n_users, d1, d7, d30, d1_rate, d7_rate).
    */
  def retentionCurve(df: DataFrame, idCol: String, dayCol: String): DataFrame = {
    val ud = df.distinct().localCheckpoint()
    val f = ud.groupBy(idCol).agg(min(dayCol).as("d0"))
    def activeAt(offset: Int) = {
      val probe = ud.select(col(idCol).as(s"u$offset"), col(dayCol).as(s"day$offset"))
      f.join(probe, col(idCol) === col(s"u$offset")
          && col(s"day$offset") === col("d0") + offset, "left_semi")
        .select(col(idCol).as(s"r$offset"))
    }
    val d1 = activeAt(1)
    val d7 = activeAt(7)
    val d30 = activeAt(30)
    f.agg(count(lit(1)).as("n_users"))
      .crossJoin(d1.agg(count(lit(1)).as("d1")))
      .crossJoin(d7.agg(count(lit(1)).as("d7")))
      .crossJoin(d30.agg(count(lit(1)).as("d30")))
      .select(col("n_users"), col("d1"), col("d7"), col("d30"),
        (floor(col("d1").cast("double") / col("n_users") * 1000000 + 0.5) / 1000000)
          .as("d1_rate"),
        (floor(col("d7").cast("double") / col("n_users") * 1000000 + 0.5) / 1000000)
          .as("d7_rate"))
  }

  /** Exact distinct via fixed-width bitmaps: non-negative integer
    * `idCol` values pack into 63-bit words keyed (group, id div 63) —
    * 63 bits keep every mask positive — OR-aggregated and
    * popcount-summed. Per-group state is |domain|/63 words regardless of
    * row count and fully map-side combinable: the roaring-bitmap idea in
    * pure relational algebra (count DISTINCT shuffles every distinct
    * value; the bitmap shuffles fixed-size words). Returns
    * (groupCol, n_distinct).
    */
  def bitmapDistinct(df: DataFrame, groupCol: String, idCol: String): DataFrame =
    df.select(col(groupCol),
        expr(s"$idCol div 63").as("wd"),
        expr(s"shiftleft(cast(1 as bigint), cast($idCol % 63 as int))").as("mask"))
      .groupBy(groupCol, "wd")
      .agg(expr("bit_or(mask)").as("bits"))
      .groupBy(groupCol)
      .agg(sum(bit_count(col("bits")).cast("long")).as("n_distinct"))

  /** Durbin–Watson statistic of the OLS residual walk over an integer
    * series (x, y): slope/intercept are fixed IEEE expressions over five
    * exact integer sums; residuals quantize to 1e-3 BEFORE the DW sums,
    * so engines difference identical integers; one lag window over the
    * (small, checkpointed) series. Returns (n, slope, dw); dw ≈ 2 means
    * independent residuals, << 2 positive autocorrelation.
    */
  def durbinWatson(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dly = df.localCheckpoint()
    val m = dly.agg(count(lit(1)).as("k"), sum(xCol).as("sx"), sum(yCol).as("sy"),
      sum(col(xCol) * col(xCol)).as("sxx"), sum(col(xCol) * col(yCol)).as("sxy"))
    def D(c0: String) = col(c0).cast("double")
    val ab = m.select(col("k"), col("sx"), col("sy"),
        ((D("k") * col("sxy") - D("sx") * col("sy"))
          / (D("k") * col("sxx") - D("sx") * col("sx"))).as("b"))
      .select(col("k"), col("b"),
        (D("sy") / col("k") - col("b") * (D("sx") / col("k"))).as("a"))
    val e3 = floor((D(yCol) - col("a") - col("b") * col(xCol)) * 1000 + 0.5).cast("long")
    val e = dly.crossJoin(broadcast(ab))
      .select(col(xCol), col("k"), col("b"), e3.as("e3"))
      .withColumn("p3", lag(col("e3"), 1).over(Window.orderBy(xCol)))
    e.groupBy("k", "b")
      .agg(sum(when(col("p3").isNotNull, (col("e3") - col("p3")) * (col("e3") - col("p3")))
          .otherwise(0L)).as("sd"),
        sum(col("e3") * col("e3")).as("se"),
        count(lit(1)).as("n"))
      .select(col("n"),
        (floor(col("b") * 1000000 + 0.5) / 1000000).as("slope"),
        (floor(col("sd").cast("double") / col("se") * 1000000 + 0.5) / 1000000).as("dw"))
  }

  /** Stochastic oscillator %K/%D of an integer series: where each
    * period's value sits inside the trailing 14-period high-low envelope
    * (%K), smoothed by a 3-period SMA (%D). %K quantizes to 1e-6 of the
    * range position BEFORE the smoothing, so the second window averages
    * exact integers (the MACD re-quantize-between-recursions rule);
    * flat windows pin %K to 50. Warm-up rows of BOTH windows are
    * excluded. Returns (day, pct_k, pct_d).
    */
  def stochasticOscillator(daily: DataFrame, dayCol: String, valueCol: String): DataFrame = {
    val win = Window.orderBy(dayCol).rowsBetween(-13, 0)
    val w = daily.select(col(dayCol), col(valueCol),
      count(lit(1)).over(win).as("k"),
      min(valueCol).over(win).as("ll"),
      max(valueCol).over(win).as("hh"))
    val pk = w.filter(col("k") === 14)
      .select(col(dayCol),
        when(col("hh") === col("ll"), lit(500000L))
          .otherwise(floor((col(valueCol) - col("ll")).cast("double") * 1000000
            / (col("hh") - col("ll")) + 0.5).cast("long")).as("k6"))
    val w3 = Window.orderBy(dayCol).rowsBetween(-2, 0)
    pk.select(col(dayCol), col("k6"),
        count(lit(1)).over(w3).as("m"), sum("k6").over(w3).as("s3"))
      .filter(col("m") === 3)
      .select(col(dayCol).cast("long").as("day"),
        (floor(col("k6").cast("double") / 10000 * 100 + 0.5) / 100).as("pct_k"),
        (floor(floor(col("s3").cast("double") / 3 + 0.5) / 10000 * 100 + 0.5) / 100).as("pct_d"))
  }

  /** Consecutive-index set similarity: Jaccard between the member sets
    * at index i and i+1 for every i (e.g. month-over-month carry-over).
    * `df` holds (indexCol: long, memberCol) rows; the relation dedups
    * once (two-key shuffle) and intersections are one self-join keyed
    * (i+1, member) — sizes and overlaps are exact integers, Jaccard the
    * only division. Returns (indexCol, n_prev, n_next, n_common, jaccard).
    */
  def adjacentSetJaccard(df: DataFrame, indexCol: String, memberCol: String): DataFrame = {
    val ms = df.distinct().localCheckpoint()
    val sz = ms.groupBy(indexCol).agg(count(lit(1)).as("n"))
    val ix = ms.as("a")
      .join(ms.as("b"),
        col(s"b.$indexCol") === col(s"a.$indexCol") + 1 && col(s"b.$memberCol") === col(s"a.$memberCol"))
      .groupBy(col(s"a.$indexCol").as(indexCol)).agg(count(lit(1)).as("both"))
    sz.as("p")
      .join(sz.as("nx"), col(s"nx.$indexCol") === col(s"p.$indexCol") + 1)
      .join(ix.as("ix"), col(s"ix.$indexCol") === col(s"p.$indexCol"), "left_outer")
      .select(col(s"p.$indexCol").as(indexCol), col("p.n").as("n_prev"),
        col("nx.n").as("n_next"),
        coalesce(col("both"), lit(0L)).as("n_common"),
        (floor(coalesce(col("both"), lit(0L)).cast("double")
          / (col("p.n") + col("nx.n") - coalesce(col("both"), lit(0L))) * 1000000 + 0.5)
          / 1000000).as("jaccard"))
  }

  /** Character-class quality profile: upper/digit/space shares per group
    * — the cheap formatting-quality signal that catches shouting,
    * serial-number dumps and whitespace-padded text before any
    * tokenization. Length-difference counting (len − len(strip(class)))
    * keeps the profile in exact integers: three codegen'd regex replaces
    * in ONE scan, aggregated map-side to |groups| rows.
    */
  def charClassProfile(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    def cnt(cls: String) =
      (length(col(textCol)) - length(regexp_replace(col(textCol), cls, ""))).cast("long")
    df.select(col(groupCol), length(col(textCol)).cast("long").as("n"),
        cnt("[A-Z]").as("up"), cnt("[0-9]").as("dg"), cnt(" ").as("sp"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_chars"),
        round(sum("up").cast("double") / sum("n"), 6).as("upper_ratio"),
        round(sum("dg").cast("double") / sum("n"), 6).as("digit_ratio"),
        round(sum("sp").cast("double") / sum("n"), 6).as("space_ratio"))
  }

  /** Cross-document boilerplate: sentences (split on ". ", trimmed,
    * ≥ 20 chars) occurring verbatim in 2+ DISTINCT documents, and each
    * group's share of such occurrences — the C4-style template/footer
    * screen, the corpus-level complement of the intra-document
    * repetition score. One explode pass; the sentence-frequency table
    * is sentence-vocabulary-bounded and joins back by sentence text (at
    * 100 TB join on xxhash64(sentence) digests — same plan, 8-byte keys).
    */
  def boilerplateShare(df: DataFrame, idCol: String, groupCol: String,
      textCol: String): DataFrame = {
    val sen = df.select(col(idCol), col(groupCol),
        explode(split(col(textCol), "\\. ")).as("s0"))
      .select(col(idCol), col(groupCol), trim(col("s0")).as("s"))
      .filter(length(col("s")) >= 20)
      .localCheckpoint()
    val freq = sen.groupBy("s").agg(countDistinct(idCol).as("nd"))
    sen.join(freq, "s")
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_boiler"),
        round(sum(when(col("nd") >= 2, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("boiler_ratio"))
  }

  /** Prefix-fingerprint dup summary: cluster by the first 40 characters
    * — the cheapest near-dup candidate generator (catches re-posts with
    * edited tails, truncation variants and templated intros that
    * full-digest exact dedup misses) — and report the corpus-level dup
    * profile in one row. At 100 TB the group key becomes
    * xxhash64(prefix), a fixed 8-byte shuffle.
    */
  def prefixClusters(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(substring(col(textCol), 1, 40).as("pfx"))
      .agg(count(lit(1)).as("n"))
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_groups"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_multi_groups"),
        sum(when(col("n") >= 2, col("n") - 1).otherwise(0L)).as("n_dup_docs"),
        round(sum(when(col("n") >= 2, col("n") - 1).otherwise(0L)).cast("double")
          / sum("n"), 6).as("dup_ratio"))

  /** Ridge shrinkage path: two-regressor ridge coefficients at each λ,
    * solved in closed form on the CENTERED normal equations from nine
    * exact integer power sums (`xCol`, `zCol`, `yCol` integer-quantized)
    * in ONE scan — the λ sweep costs 1-row projections, not scans. How
    * fast each coefficient shrinks is the collinearity readout.
    * Returns (lam, b_x, b_z).
    */
  def ridgePath(df: DataFrame, xCol: String, zCol: String, yCol: String,
      lambdas: Seq[Long]): DataFrame = {
    val m = df.agg(count(lit(1)).as("n"), sum(xCol).as("sx"), sum(zCol).as("sz"),
      sum(yCol).as("sy"),
      sum(col(xCol) * col(xCol)).as("sxx"), sum(col(xCol) * col(zCol)).as("sxz"),
      sum(col(zCol) * col(zCol)).as("szz"), sum(col(xCol) * col(yCol)).as("sxy"),
      sum(col(zCol) * col(yCol)).as("szy"))
    def D(c0: String) = col(c0).cast("double")
    val c = m.select(col("n"),
      (D("sxx") - D("sx") * col("sx") / col("n")).as("cxx"),
      (D("sxz") - D("sx") * col("sz") / col("n")).as("cxz"),
      (D("szz") - D("sz") * col("sz") / col("n")).as("czz"),
      (D("sxy") - D("sx") * col("sy") / col("n")).as("cxy"),
      (D("szy") - D("sz") * col("sy") / col("n")).as("czy"))
    val withLam = c.withColumn("lam", explode(array(lambdas.map(lit): _*)))
    val det = (col("cxx") + col("lam")) * (col("czz") + col("lam")) - col("cxz") * col("cxz")
    withLam.select(col("lam"),
      (floor((col("cxy") * (col("czz") + col("lam")) - col("cxz") * col("czy"))
        / det * 1000000 + 0.5) / 1000000).as("b_x"),
      (floor(((col("cxx") + col("lam")) * col("czy") - col("cxz") * col("cxy"))
        / det * 1000000 + 0.5) / 1000000).as("b_z"))
  }

  /** Budget water-filling: allocate HALF the total integer `weight`
    * across groups — equal shares first, then one redistribution of the
    * slack that capped (small) groups couldn't use (a proportional
    * rebalance never reclaims slack). Pure integer division end to end;
    * two aggregate barriers (totals, slack), both 1-row broadcasts.
    * Returns (groupCol, available, alloc1, alloc_final, exhausted).
    */
  def waterfillBudget(df: DataFrame, groupCol: String,
      weight: org.apache.spark.sql.Column): DataFrame = {
    val src = df.groupBy(groupCol).agg(sum(weight).as("toks"))
      .localCheckpoint()
    val tot = src.agg(expr("sum(toks) div 2").as("budget"), count(lit(1)).as("n"))
    val r1 = src.crossJoin(broadcast(tot))
      .select(col(groupCol), col("toks"), col("budget"),
        expr("budget div n").as("fair"),
        least(col("toks"), expr("budget div n")).as("alloc1"))
      .localCheckpoint()
    val slack = r1.agg((min("budget") - sum("alloc1")).as("leftover"),
      sum(when(col("toks") > col("fair"), 1L).otherwise(0L)).as("m"))
    r1.crossJoin(broadcast(slack))
      .select(col(groupCol), col("toks").as("available"), col("alloc1"),
        when(col("toks") > col("fair"),
          least(col("toks"), col("fair")
            + when(col("m") > 0, expr("leftover div m")).otherwise(lit(0L))))
          .otherwise(col("alloc1")).cast("long").as("alloc_final"),
        when(col("toks") <= col("fair"), 1L).otherwise(0L).as("exhausted"))
  }

  /** Retrieval exposure share: per item label, its share of the
    * 1e6-quantized DCG mass across every query group's top-10 ranking
    * (rank by `scoreCol` DESC, `idCol` tie-break) — the fairness/bias
    * audit of a retrieval stack (nDCG scores one ranking's quality; this
    * measures who GETS RANKED across many). Per-group ranking windows
    * (per-partition heaps at scale); the discount weights are q_ret_1's
    * plan-time integers ([[graft.operators.Round4Ops.ndcgW]]), so the
    * shares divide exact BIGINTs. Returns (labelCol, n_slots,
    * exposure_share).
    */
  def exposureShare(df: DataFrame, queryCol: String, labelCol: String,
      scoreCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(queryCol).orderBy(col(scoreCol).desc, col(idCol))
    val wArr = array(graft.operators.Round4Ops.ndcgW.map(lit): _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .groupBy(labelCol)
      .agg(count(lit(1)).as("n_slots"),
        sum(element_at(wArr, col("rn").cast("int"))).as("w6"))
      .withColumn("tot", sum("w6").over(Window.partitionBy()))
      .select(col(labelCol), col("n_slots"),
        (floor(col("w6").cast("double") / col("tot") * 1000000 + 0.5) / 1000000)
          .as("exposure_share"))
  }

  /** Top event-type trigram paths: the 10 most common 3-step sequences
    * per id stream (ordered by `tsCol`, `tieCol`), ranked by count with
    * ties broken on the path string — funnel DISCOVERY. Two leads in
    * ONE window pass (same frame), then a |types|³-bounded aggregate.
    * Returns (path, n).
    */
  def pathNgrams(df: DataFrame, idCol: String, tsCol: String, typeCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(tsCol, tieCol)
    df.select(col(idCol), col(typeCol),
        lead(col(typeCol), 1).over(w).as("e2"),
        lead(col(typeCol), 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(concat_ws(">", col(typeCol), col("e2"), col("e3")).as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(10)
  }

  /** Churn counts at 3/7/14-day inactivity horizons, measured against
    * the input's last observed day: one per-id max + one scalar max
    * broadcast; the horizons are CASE sums over the same per-id row —
    * integer day arithmetic throughout. One row (n_users, churn_3d,
    * churn_7d, churn_14d, churn_7d_rate).
    */
  def churnHorizons(df: DataFrame, idCol: String, day: org.apache.spark.sql.Column): DataFrame = {
    val u = df.groupBy(idCol).agg(max(day).as("last_day")).localCheckpoint()
    val mx = u.agg(max("last_day").as("maxd"))
    u.crossJoin(broadcast(mx))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("last_day") <= col("maxd") - 3, 1L).otherwise(0L)).as("churn_3d"),
        sum(when(col("last_day") <= col("maxd") - 7, 1L).otherwise(0L)).as("churn_7d"),
        sum(when(col("last_day") <= col("maxd") - 14, 1L).otherwise(0L)).as("churn_14d"),
        round(sum(when(col("last_day") <= col("maxd") - 7, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("churn_7d_rate"))
  }

  /** Pairwise label-centroid cosine matrix: every label pair's centroid
    * cosine — the inter-class geometry table, the confusion-risk map of
    * an embedding space. Components quantize to 1e8 integers, centroids
    * to rounded integer means, and the pair dots/norms are exact BIGINT
    * sums: the corpus is touched once, the |labels|² join runs over
    * broadcast-sized centroid rows. Returns (label_a, label_b, cos_ab).
    */
  def centroidMatrix(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val e = df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(labelCol), col("pos"),
        floor(col("v").cast("double") * 100000000L + 0.5).cast("long").as("vi"))
    val cl = e.groupBy(labelCol, "pos")
      .agg(floor(sum("vi").cast("double") / count(lit(1)) + 0.5).cast("long").as("c"))
      .localCheckpoint()
    val a = cl.select(col(labelCol).as("la"), col("pos"), col("c").as("ca"))
    val b = cl.select(col(labelCol).as("lb"), col("pos"), col("c").as("cb"))
    a.join(b, Seq("pos")).filter(col("la") < col("lb"))
      .groupBy(col("la").as("label_a"), col("lb").as("label_b"))
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("qa"),
        sum(col("cb") * col("cb")).as("qb"))
      .select(col("label_a"), col("label_b"),
        (floor(col("dot").cast("double")
          / (sqrt(col("qa").cast("double")) * sqrt(col("qb").cast("double")))
          * 1000000 + 0.5) / 1000000).as("cos_ab"))
  }

  /** Directed k-NN cosine graph: (src, dst, cos, rk) for each row's k
    * nearest neighbors, ranked (cos DESC, dst ASC) with the bit-exact
    * cosine fold. Brute force over a broadcast copy — bound the input
    * (a constant-size eval slice) or feed LSH/IVF candidates at corpus
    * scale; the per-src rank window is the only shuffle.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val pairs = df.as("a").join(broadcast(df.as("b")), col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("src"), col(s"b.$idCol").as("dst"),
        graft.functions.VectorFunctions.cosine(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cos"))
    pairs.withColumn("rk",
        row_number().over(Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))))
      .filter(col("rk") <= k)
  }

  /** In-degree histogram of a directed edge list over a node universe
    * (the hubness readout of a kNN graph): (indeg, n_nodes), the zero
    * bin included via `nodes`. O(E) aggregate; a heavy right tail means
    * a few hub vectors sit in a disproportionate share of neighbor lists.
    */
  def hubnessHistogram(nodes: DataFrame, idCol: String, edges: DataFrame,
      dstCol: String): DataFrame = {
    val ind = edges.groupBy(col(dstCol).as(idCol)).agg(count(lit(1)).as("indeg"))
    nodes.select(idCol).join(ind, Seq(idCol), "left")
      .select(coalesce(col("indeg"), lit(0L)).as("indeg"))
      .groupBy("indeg").agg(count(lit(1)).as("n_nodes"))
  }

  /** Anisotropy WITHOUT the pair space: mean pairwise cosine of unit
    * vectors per group and globally (group -1) via the centroid-sum
    * identity mean_{i≠j} uᵢ·uⱼ = (‖Σu‖² − Σ‖uᵢ‖²) / (n(n−1)) — a high
    * value means vectors crowd a narrow cone and cosine loses contrast.
    * One O(n·dim) pass: unit components quantize to 1e-3 integers per
    * row, all cross-row sums are exact BIGINT keyed (group, dim).
    * Returns (groupCol, n, mean_cos).
    */
  def anisotropy(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val u = df.withColumn("nrm", graft.functions.VectorFunctions.l2norm(col(vecCol)))
      .filter(col("nrm") > 0)
    val ex = u.select(col(groupCol), col("nrm"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col(groupCol), col("d"),
        floor(col("x").cast("double") / col("nrm") * 1000 + 0.5).cast("long").as("uq"))
    val grp = ex.groupBy(groupCol, "d")
      .agg(sum("uq").as("sd"), sum(col("uq") * col("uq")).as("ssq"),
        count(lit(1)).as("n"))
      .localCheckpoint()
    val lab = grp.groupBy(groupCol)
      .agg(sum(col("sd") * col("sd")).as("num"), sum("ssq").as("selfsum"),
        max("n").as("n"))
    val gl = grp.groupBy("d")
      .agg(sum("sd").as("sd"), sum("ssq").as("ssq"))
    val glr = gl.agg(sum(col("sd") * col("sd")).as("num"), sum("ssq").as("selfsum"))
      .crossJoin(u.agg(count(lit(1)).as("n")))
      .select(lit(-1).as(groupCol), col("num"), col("selfsum"), col("n"))
    lab.select(col(groupCol), col("num"), col("selfsum"), col("n")).union(glr)
      .select(col(groupCol), col("n"),
        (floor(
          (col("num") - col("selfsum")).cast("double")
            / (lit(1000000.0) * col("n") * (col("n") - 1)) * 1000000 + 0.5) / 1000000)
          .as("mean_cos"))
  }

  /** Synchronous label propagation: `rounds` supersteps of "adopt the
    * most frequent neighbor label, ties → smallest", from label = node
    * id, over a symmetrized distinct edge list. Each superstep is one
    * (edges ⋈ labels) shuffle + a per-node window — the Pregel
    * superstep as declarative joins; labels localCheckpoint per round so
    * lineage stays O(1). Synchronous + deterministic tie-break ⇒ the
    * trajectory is reproducible across any partitioning. Returns
    * (node, lab).
    */
  def labelPropagation(bidirEdges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    var labels = bidirEdges.select(col(srcCol).as("node")).distinct()
      .withColumn("lab", col("node")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val cnt = bidirEdges.join(labels.withColumnRenamed("node", "nbr"), col(dstCol) === col("nbr"))
        .groupBy(col(srcCol).as("node"), col("lab")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("node").orderBy(col("c").desc, col("lab"))
      labels = cnt.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select("node", "lab").localCheckpoint()
    }
    labels
  }

  /** Adamic–Adar link prediction over a symmetrized distinct edge list:
    * non-adjacent pairs (a < b) sharing ≥1 neighbor, scored Σ 1/ln(deg(z))
    * — a shared rare neighbor says more than a shared hub. Candidates
    * come from the wedge join (O(Σ deg²), never all-pairs); the weight
    * quantizes to a 1e-6 integer PER NEIGHBOR so the pair sum is exact
    * in any shuffle order (the dg ≥ 2 guard keeps ln(1) = 0 out of the
    * divisor). Adjacent pairs drop via an anti join; the node-scaled
    * weight table carries no broadcast hint (AQE sizes it). Returns
    * (a, b, n_common, score6).
    */
  def adamicAdar(bidirEdges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val w = bidirEdges.groupBy(col(srcCol).as("node")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= 2)
      .select(col("node"),
        floor(lit(1000000) / log(col("dg").cast("double")) + 0.5).cast("long").as("wz"))
    bidirEdges.as("x").join(bidirEdges.as("y"),
        col(s"x.$dstCol") === col(s"y.$dstCol") && col(s"x.$srcCol") < col(s"y.$srcCol"))
      .select(col(s"x.$srcCol").as("a"), col(s"y.$srcCol").as("b"), col(s"x.$dstCol").as("z"))
      .join(bidirEdges.select(col(srcCol).as("ea"), col(dstCol).as("eb")),
        col("a") === col("ea") && col("b") === col("eb"), "left_anti")
      .join(w, col("z") === col("node"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("wz").as("score6"))
  }

  /** Per-community modularity contribution of a node → community
    * assignment over a symmetrized distinct edge list:
    * Q_c = (m2·dir_c − d_c²) / m2², m2 = directed edges, dir_c = directed
    * edges inside c, d_c = degree sum of c — the halving-free form of
    * e_c/m − (d_c/2m)²; positive = denser inside than chance. Exact
    * BIGINT end to end (m2² ≤ 8e18 up to m2 ≈ 2.8e9), one correctly
    * rounded division. `com` has (node, c), one row per node —
    * never force-broadcast it (AQE sizes these joins). Returns
    * (community, dir_within, deg_sum, contribution); Σ = modularity Q.
    */
  def modularity(bidirEdges: DataFrame, srcCol: String, dstCol: String,
      com: DataFrame): DataFrame = {
    val m2 = bidirEdges.agg(count(lit(1)).as("m2"))
    val within = bidirEdges
      .join(com.select(col("node").as("na"), col("c").as("ca")), col(srcCol) === col("na"))
      .join(com.select(col("node").as("nb"), col("c").as("cb")), col(dstCol) === col("nb"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("dir_within"))
    val degsum = bidirEdges.join(com, col(srcCol) === col("node"))
      .groupBy("c").agg(count(lit(1)).as("deg_sum"))
    degsum.join(within, Seq("c"), "left")
      .crossJoin(broadcast(m2))
      .select(col("c").as("community"),
        coalesce(col("dir_within"), lit(0L)).as("dir_within"), col("deg_sum"),
        (floor(
          (col("m2") * coalesce(col("dir_within"), lit(0L))
            - col("deg_sum") * col("deg_sum")).cast("double")
            / (col("m2") * col("m2")).cast("double") * 1000000000 + 0.5) / 1000000000)
          .as("contribution"))
  }

  /** Train/test near-dup leakage audit: deterministic 90/10 split by
    * q_text_13's overflow-safe multiplicative id hash, then per group the
    * count of test rows whose near-dup `key` also appears in train —
    * the contamination a random split silently ships when the corpus
    * has near-duplicates. Membership comes from the id alone; the leak
    * test is test ⋉ train on the key, so only digests shuffle. Returns
    * (groupCol, n_test, n_leaked, leak_share).
    */
  def splitLeakage(df: DataFrame, idCol: String, key: org.apache.spark.sql.Column,
      groupCol: String): DataFrame = {
    val bucket = idHash(col(idCol)) % 100
    val keyed = df.select(col(idCol), col(groupCol), key.as("set_key"),
        when(bucket < 90, "train").otherwise("test").as("split"))
      .localCheckpoint()
    val tr = keyed.filter(col("split") === "train").select("set_key").distinct()
      .withColumnRenamed("set_key", "tr_key")
    keyed.filter(col("split") === "test")
      .join(tr, col("set_key") === col("tr_key"), "left")
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("tr_key").isNotNull, 1).otherwise(0)).cast("long").as("n_leaked"))
      .select(col(groupCol), col("n_test"), col("n_leaked"),
        (floor(col("n_leaked").cast("double") / col("n_test") * 1000000 + 0.5) / 1000000)
          .as("leak_share"))
  }

  /** Concat-and-split packing audit: concatenate rows in `orderCol`
    * order, cut every ctx tokens (the zero-padding GPT pretraining
    * layout), and per context size report sequences, rows straddling a
    * cut, their share, and the single tail pad — the shred-rate vs
    * padding tradeoff that picks ctx. One cumulative token sum
    * ([[prefixSum]]: contiguous order ranges per partition +
    * per-partition integer offsets, no one-task window) feeds every
    * size; a row is split iff its first and last token land in
    * different blocks — pure integer floor division, no per-token
    * explosion. `tokCol` must be a long.
    */
  def ctxBoundarySweep(df: DataFrame, orderCol: String, tokCol: String,
      ctxs: Seq[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cum = prefixSum(df, Seq(orderCol), tokCol, "c")
    cum.crossJoin(broadcast(ctxs.toDF("ctx")))
      .select(col("ctx"), col(tokCol), col("c"),
        when(expr("(c - 1) div ctx") > expr(s"(c - $tokCol) div ctx"), 1).otherwise(0).as("crossed"))
      .groupBy("ctx")
      .agg(max("c").as("total"), sum("crossed").cast("long").as("n_docs_split"),
        count(lit(1)).as("n_docs"))
      .select(col("ctx"),
        expr("(total + ctx - 1) div ctx").as("n_seqs"),
        col("n_docs_split"),
        (floor(col("n_docs_split").cast("double") / col("n_docs") * 1000000 + 0.5) / 1000000)
          .as("split_share"),
        (expr("(total + ctx - 1) div ctx") * col("ctx") - col("total")).as("tail_pad"))
  }

  /** Truncation pricing — the no-packing alternative to
    * [[ctxBoundarySweep]]: tokens lost and rows touched when every row's
    * long `tokCol` is cut at each max length. Map-only + a broadcast of
    * caps; one aggregate. Returns (cap, total_tokens, tokens_lost,
    * docs_truncated, loss_share).
    */
  def truncationLoss(df: DataFrame, tokCol: String, caps: Seq[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.crossJoin(broadcast(caps.toDF("cap")))
      .select(col("cap"), col(tokCol),
        when(col(tokCol) > col("cap"), col(tokCol) - col("cap")).otherwise(0L).as("lost"))
      .groupBy("cap")
      .agg(sum(tokCol).as("total_tokens"), sum("lost").as("tokens_lost"),
        sum(when(col(tokCol) > col("cap"), 1).otherwise(0)).cast("long").as("docs_truncated"))
      .select(col("cap"), col("total_tokens"), col("tokens_lost"), col("docs_truncated"),
        (floor(col("tokens_lost").cast("double") / col("total_tokens") * 1000000 + 0.5) / 1000000)
          .as("loss_share"))
  }

  /** k-anonymity summary under the given quasi-identifier columns: the
    * minimum group size IS the k; rows in groups under 5 and their share
    * are the headline re-identification risk. One QI-bounded groupBy
    * (map-side combine does almost all the work), then a 1-row fold.
    * Returns (n_groups, k_anonymity, max_group, n_rows, n_at_risk,
    * risk_share).
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String]): DataFrame =
    df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_groups"), min("n").as("k_anonymity"),
        max("n").as("max_group"), sum("n").as("n_rows"),
        sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_at_risk"),
        round(sum(when(col("n") < 5, col("n")).otherwise(0L)).cast("double")
          / sum("n"), 6).as("risk_share"))

  /** l-diversity of the QI groups against a `sensitive` expression (e.g.
    * a pre-bucketed band): a k-anonymous group where everyone shares one
    * sensitive value still leaks it — min_l and the rows inside groups
    * with l < 3 are the readout. count + countDistinct in one grouped
    * pass. Returns (n_groups, min_l, mean_l, n_low_div_groups, n_exposed).
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
      sensitive: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"), countDistinct(sensitive).as("l"))
      .agg(count(lit(1)).as("n_groups"), min("l").as("min_l"),
        round(sum("l").cast("double") / count(lit(1)), 6).as("mean_l"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_low_div_groups"),
        sum(when(col("l") < 3, col("n")).otherwise(0L)).as("n_exposed"))

  /** Intra-document duplicate n-gram share per group: n-gram positions
    * minus distinct n-grams, summed — the Rae/Gopher "duplicate n-gram
    * fraction" repetition screen, computed WITHOUT exploding
    * occurrences: per row two array sizes off one split (positions =
    * n_tokens − (n−1), distinct = |shingle set| via the guarded slice
    * transform). One scan, zero joins. Returns (groupCol, n_docs,
    * n_{n}grams, n_dup_{n}grams, dup_share).
    */
  def dupNgramShare(df: DataFrame, groupCol: String, textCol: String, n: Int): DataFrame = {
    val tk = split(col(textCol), " ")
    val pos = greatest(size(tk) - (n - 1), lit(0)).cast("long")
    val dst = size(when(size(tk) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", slice(tk, i, lit(n))))))).cast("long")
    df.select(col(groupCol), pos.as(s"n$n"), dst.as("nd"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(s"n$n").as(s"n_${n}grams"),
        sum(col(s"n$n") - col("nd")).as(s"n_dup_${n}grams"),
        round(sum(col(s"n$n") - col("nd")).cast("double")
          / greatest(sum(s"n$n"), lit(1L)), 6).as("dup_share"))
  }

  /** Gopher-style rule incidence matrix per group: four quality rules
    * as EXACT integer predicates in one scan — too short (<15 tokens),
    * word-length shape off (mean outside [3,10], cross-multiplied: the
    * token-length sum of single-space-joined text is nc − (nt − 1)),
    * digit-heavy (>20%), repetitive (type-token ratio <0.4) — with
    * per-rule prevalence, the multi-fail count and the clean share.
    * Zero float in the flags.
    */
  def qualityRuleMatrix(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tk = split(col(textCol), " ")
    val m = df.select(col(groupCol),
      size(tk).cast("long").as("nt"),
      size(array_distinct(tk)).cast("long").as("nu"),
      length(col(textCol)).cast("long").as("nc"),
      (length(col(textCol)) - length(regexp_replace(col(textCol), "[0-9]", "")))
        .cast("long").as("dg"))
    val f = m.select(col(groupCol),
      when(col("nt") < 15, 1L).otherwise(0L).as("r_short"),
      when(col("nc") - col("nt") + 1 < col("nt") * 3
        || col("nc") - col("nt") + 1 > col("nt") * 10, 1L).otherwise(0L).as("r_wordlen"),
      when(col("dg") * 5 > col("nc"), 1L).otherwise(0L).as("r_digit"),
      when(col("nu") * 5 < col("nt") * 2, 1L).otherwise(0L).as("r_repeat"))
    val fails = col("r_short") + col("r_wordlen") + col("r_digit") + col("r_repeat")
    f.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("r_short").as("n_short"), sum("r_wordlen").as("n_wordlen"),
        sum("r_digit").as("n_digit"), sum("r_repeat").as("n_repeat"),
        sum(when(fails >= 2, 1L).otherwise(0L)).as("n_multi_fail"),
        round(sum(when(fails === 0, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("clean_share"))
  }

  /** Cohen's kappa between two binary rater columns (0/1 longs): raw
    * agreement overstates consensus when both raters flag a minority
    * class; kappa subtracts the chance floor. One scan to the 2×2 table
    * (four exact counts); κ is a fixed IEEE expression of those BIGINTs.
    * Returns (n, n11, n10, n01, n00, p_observed, kappa).
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val m = df.agg(count(lit(1)).as("n"),
      sum(when(col(aCol) === 1 && col(bCol) === 1, 1L).otherwise(0L)).as("n11"),
      sum(when(col(aCol) === 1 && col(bCol) === 0, 1L).otherwise(0L)).as("n10"),
      sum(when(col(aCol) === 0 && col(bCol) === 1, 1L).otherwise(0L)).as("n01"),
      sum(when(col(aCol) === 0 && col(bCol) === 0, 1L).otherwise(0L)).as("n00"))
    def D(c: org.apache.spark.sql.Column) = c.cast("double")
    val pe = (D(col("n11") + col("n10")) * (col("n11") + col("n01"))
      + D(col("n01") + col("n00")) * (col("n10") + col("n00"))) / col("n") / col("n")
    val po = D(col("n11") + col("n00")) / col("n")
    m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("p_observed"),
      round((po - pe) / (lit(1) - pe), 6).as("kappa"))
  }

  /** Fano factor of per-bucket arrival counts per group: var_pop/mean =
    * (m·Σc² − (Σc)²)/(m·Σc) from three exact sums — 1 = Poisson, ≫1 =
    * bursty clustering; one double division at emission. Buckets with
    * zero events are excluded. Returns (groupCol, n_buckets, n_events,
    * fano).
    */
  def fanoFactor(df: DataFrame, groupCol: String, bucket: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(col(groupCol), bucket)
      .agg(count(lit(1)).as("c"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("m"), sum("c").as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .select(col(groupCol), col("m").as("n_buckets"), col("sc").as("n_events"),
        round((col("m").cast("double") * col("scc")
          - col("sc").cast("double") * col("sc"))
          / (col("m").cast("double") * col("sc")), 6).as("fano"))

  /** Degree-sequence Gini of a symmetrized distinct edge list — whether
    * the degree distribution is egalitarian or hub-dominated — from the
    * exact rank-weighted sum G = (2·Σi·dᵢ − (n+1)·Σd) / (n·Σd) over
    * degrees ranked ascending with node tie-break (no sorting of
    * floats). The degree table is node-scaled, so the rank is the
    * range-partitioned [[exactGlobalRankBy]], not a single-partition
    * window; then one fold. Returns (n_nodes, total_degree, max_degree,
    * gini).
    */
  def degreeGini(bidirEdges: DataFrame, srcCol: String): DataFrame = {
    val deg = bidirEdges.groupBy(col(srcCol).as("node")).agg(count(lit(1)).as("deg"))
    val r = exactGlobalRankBy(deg.select(col("deg"), col("node")),
      Seq(col("deg"), col("node")), "i")
    r.agg(count(lit(1)).as("n"), sum("deg").as("sd"),
        sum(col("i") * col("deg")).as("sid"), max("deg").as("maxd"))
      .select(col("n").as("n_nodes"), col("sd").as("total_degree"),
        col("maxd").as("max_degree"),
        round((col("sid").cast("double") * 2 - (col("n") + 1).cast("double") * col("sd"))
          / (col("n").cast("double") * col("sd")), 6).as("gini"))
  }

  /** Deterministic token-balanced shard summary: the portable
    * multiplicative hash of `idCol` IS the shard assignment a pipeline
    * would ship (reproducible years later, unlike engine RNG) — 16
    * shards — and the max−min token spread over the mean is the
    * straggler readout. One scan to a 16-row table, then a 1-row fold.
    * Returns (n_shards, n_docs, min_tokens, max_tokens, mean_tokens,
    * imbalance).
    */
  def shardBalance(df: DataFrame, idCol: String, tokens: org.apache.spark.sql.Column): DataFrame = {
    val P = 1000000007L
    df.select((((col(idCol) % P) * 2654435761L % P) % 16).as("shard"), tokens.as("toks"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("toks"))
      .agg(count(lit(1)).as("n_shards"), sum("n_docs").as("n_docs"),
        min("toks").as("min_tokens"), max("toks").as("max_tokens"),
        round(sum("toks").cast("double") / count(lit(1)), 2).as("mean_tokens"),
        round((max("toks").cast("double") - min("toks"))
          / (sum("toks").cast("double") / count(lit(1))), 6).as("imbalance"))
  }

  /** One Newton step of logistic regression P(positive | x) from β=0: at
    * the zero init the update is the CLOSED FORM 4·(XᵀX)⁻¹Xᵀ(y−½) — no
    * sigmoid, no iteration, everything rational in five exact sums from
    * one map-side-combined aggregate; the 2×2 solve is a fixed IEEE
    * expression. `x` is a long expression, `positive` the label
    * predicate. Returns (n, n_positive, base_rate, beta0, beta1).
    */
  def logitStep(df: DataFrame, x: org.apache.spark.sql.Column,
      positive: org.apache.spark.sql.Column): DataFrame = {
    val y = when(positive, 1L).otherwise(0L)
    val m = df.agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"),
      sum(y).as("sy"), sum(when(positive, x).otherwise(0L)).as("sxy"))
    def D(c: org.apache.spark.sql.Column) = c.cast("double")
    val den = D(col("n")) * col("sxx") - D(col("sx")) * col("sx")
    val gy = D(col("sy")) - D(col("n")) / 2
    val gxy = D(col("sxy")) - D(col("sx")) / 2
    m.select(col("n"), col("sy").as("n_positive"),
      round(D(col("sy")) / col("n"), 6).as("base_rate"),
      round(lit(4.0) * (D(col("sxx")) * gy - D(col("sx")) * gxy) / den, 6).as("beta0"),
      round(lit(4.0) * (D(col("n")) * gxy - D(col("sx")) * gy) / den, 6).as("beta1"))
  }

  /** Quantization bit-width sweep over a float-array column: RMSE and
    * worst-case error of symmetric round-to-nearest at 2/4/8 bits — the
    * storage-precision curve ("how many bits does this table need?").
    * Dequantized error is floor-based round, IEEE-identical across
    * engines; each ROW's squared-error fold quantizes to a 1e-9 BIGINT
    * before the cross-row sum (fixed order within the row, exact ints
    * across rows). The widths ride one scan via an array fan-out.
    * Returns (bits, n_values, rmse, max_abs_err).
    */
  def bitwidthSweep(df: DataFrame, vecCol: String): DataFrame = {
    val bitsArr = array(Seq(2L, 4L, 8L).map(lit): _*)
    val e = df.select(col(vecCol), explode(bitsArr).as("bits"))
      .withColumn("s", (pow(lit(2.0), col("bits") - 1) - 1).cast("double"))
    def err(x: org.apache.spark.sql.Column, sc: org.apache.spark.sql.Column) = {
      val xd = x.cast("double")
      xd - floor(xd * sc + 0.5) / sc
    }
    e.select(col("bits"),
        floor(aggregate(transform(col(vecCol), x => {
          val ev = err(x, col("s")); ev * ev
        }), lit(0.0), (acc, v) => acc + v) * 1000000000L + 0.5)
          .cast("long").as("row_sq9"),
        floor(array_max(transform(col(vecCol), x => abs(err(x, col("s")))))
          * 1000000 + 0.5).cast("long").as("row_max6"),
        size(col(vecCol)).cast("long").as("dim"))
      .groupBy("bits")
      .agg(sum("dim").as("n_values"),
        round(sqrt(sum("row_sq9").cast("double") / 1e9 / sum("dim")), 6).as("rmse"),
        round(max("row_max6").cast("double") / 1000000, 6).as("max_abs_err"))
  }

  /** TwoNN intrinsic dimension (Facco et al. 2017) of a sampled vector
    * frame: each point's ratio μ = d2/d1 of its two nearest neighbors
    * estimates the local manifold dimension as d ≈ N / Σ ln μ — no
    * density assumption, no PCA. Per-point ln μ quantizes 1e-6 BEFORE
    * the global sum (order-independent). All pairs over a broadcast
    * copy, one ranking window: keep the sample broadcast-sized; at
    * corpus scale the 2-NN search runs through IVF/LSH candidates.
    * Returns (n_points, sum_ln_mu6, dim_est).
    */
  def twoNNDimension(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val a = df.select(col(idCol).as("i"), col(vecCol).as("ea"))
    val b = df.select(col(idCol).as("j"), col(vecCol).as("eb"))
    val w = Window.partitionBy("i").orderBy(col("d2"), col("j"))
    a.join(broadcast(b), col("i") =!= col("j"))
      .select(col("i"), col("j"),
        graft.functions.VectorFunctions.sqDist(col("ea"), col("eb")).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("i")
      .agg(max(when(col("rn") === 1, col("d2"))).as("d1sq"),
        max(when(col("rn") === 2, col("d2"))).as("d2sq"))
      .filter(col("d1sq") > 0)
      .select(floor(log(col("d2sq") / col("d1sq")) * 0.5 * 1000000 + 0.5)
        .cast("long").as("ln6"))
      .agg(count(lit(1)).as("n_points"), sum("ln6").as("sum_ln_mu6"))
      .select(col("n_points"), col("sum_ln_mu6"),
        round(col("n_points").cast("double") * 1000000 / col("sum_ln_mu6"), 4)
          .as("dim_est"))
  }
  /** One k-core peel round over a symmetrized distinct edge list: keep
    * the nodes of degree ≥ k, then left_semi BOTH endpoints against them
    * — pure integer set algebra. The survivor set is node-scaled, so the
    * semi-joins carry NO broadcast hint (a forced broadcast fails at
    * 10⁸⁺ nodes; AQE picks the strategy from the measured size).
    * Iterating to a fixpoint (checkpointing between rounds) yields the
    * k-core. Returns (kept nodes `node`, surviving edges).
    */
  def kCorePeel(bidirEdges: DataFrame, srcCol: String, dstCol: String,
      k: Int): (DataFrame, DataFrame) = {
    val keep = bidirEdges.groupBy(col(srcCol).as("node")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= k).select("node")
    val e2 = bidirEdges
      .join(keep, col(srcCol) === col("node"), "left_semi")
      .join(keep.withColumnRenamed("node", "node2"), col(dstCol) === col("node2"), "left_semi")
    (keep, e2)
  }

  /** One k-truss peel round: the canonical (u < v) edges of `canon`
    * supported by ≥ k − 2 triangles of the symmetrized adjacency `bidir`
    * (src, dst). Support is one wedge join per canonical edge (every
    * triangle counted exactly once per edge); counts are exact integer
    * set sizes. Iterating (re-deriving `bidir` from the survivors and
    * checkpointing between rounds) to a fixpoint yields the k-truss.
    * Returns the surviving (u, v).
    */
  def kTrussPeel(canon: DataFrame, bidir: DataFrame, k: Int): DataFrame =
    canon.join(bidir.select(col("src").as("u"), col("dst").as("w")), Seq("u"))
      .join(bidir.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= k - 2).select("u", "v")

  /** Rich-club coefficient of a symmetrized distinct edge list: edge
    * density among the top-decile-degree nodes (min 2) vs the whole
    * graph's density — φ ≫ 1 means the hubs form a tightly-wired elite.
    * The degree table is built once; the hub pick is the
    * range-partitioned [[exactGlobalRankBy]] (a global rank window over
    * the entity-scaled degree table would plan Exchange
    * SinglePartition); the hub set is a broadcast semi-join on BOTH
    * endpoints and the densities divide exact directed-edge counts.
    * `bidirEdges` is read three times: pass a materialized list.
    * Returns one row (n_nodes, n_hubs, n_edges, n_hub_edges,
    * hub_density, density, rich_club_ratio).
    */
  def richClub(bidirEdges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val deg = bidirEdges.groupBy(col(srcCol).as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val n = deg.count()
    val nHubs = math.max(n / 10, 2L)
    val hubs = exactGlobalRankBy(deg, Seq(col("deg").desc, col("node")), "rn")
      .filter(col("rn") <= nHubs).select("node").localCheckpoint()
    val e2 = bidirEdges.count()
    val eh2 = bidirEdges.join(broadcast(hubs), bidirEdges(srcCol) === hubs("node"), "left_semi")
      .join(broadcast(hubs.withColumnRenamed("node", "node2")),
        col(dstCol) === col("node2"), "left_semi")
      .count()
    val hubDen = eh2.toDouble / (nHubs * (nHubs - 1))
    val den = e2.toDouble / (n * (n - 1))
    val spark = bidirEdges.sparkSession
    import spark.implicits._
    Seq((n, nHubs, e2 / 2, eh2 / 2,
      math.floor(hubDen * 1000000 + 0.5) / 1000000,
      math.floor(den * 1000000 + 0.5) / 1000000,
      math.floor(hubDen / den * 10000 + 0.5) / 10000))
      .toDF("n_nodes", "n_hubs", "n_edges", "n_hub_edges",
        "hub_density", "density", "rich_club_ratio")
  }

  /** Year-over-year growth of a (yyyymm, cents) series: each month
    * joined to the SAME month one year earlier — a calendar self-join on
    * ym−100 (Catalyst plans a tiny hash join), robust to missing months
    * where a 12-row lag is not. The |months|-bounded input is
    * checkpointed once. Returns (ym, revenue, prev_revenue, yoy_growth).
    */
  def yoyGrowth(df: DataFrame, ymCol: String, valueCol: String): DataFrame = {
    val m = df.localCheckpoint()
    val b = m.select((col(ymCol) + 100).as("ym2"), col(valueCol).as("pcents"))
    m.join(b, col(ymCol) === col("ym2"))
      .select(col(ymCol),
        round(col(valueCol).cast("double") / 100, 2).as("revenue"),
        round(col("pcents").cast("double") / 100, 2).as("prev_revenue"),
        round((col(valueCol).cast("double") - col("pcents")) / col("pcents"), 6)
          .as("yoy_growth"))
  }

  /** Ulcer index + max drawdown per group over an ordered integer
    * series: RMS drawdown depth against the running peak — penalizes
    * DEEP-AND-LONG slumps where max drawdown only sees the deepest
    * instant. One ordered window per group; depths quantize 1e-8 before
    * the RMS fold (d8² ≤ 1e16, so sums stay inside BIGINT for ~900 rows
    * per group) and the cross-row RMS is order-independent. Returns
    * (groupCol, n_rows, ulcer_pct, max_dd_pct).
    */
  def ulcerIndex(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("peak", max(valueCol).over(w))
      .select(col(groupCol),
        floor((col("peak") - col(valueCol)).cast("double") / col("peak")
          * 100000000L + 0.5).cast("long").as("d8"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_rows"),
        round(sqrt(sum(col("d8") * col("d8")).cast("double")
          / 1e16 / count(lit(1))) * 100, 4).as("ulcer_pct"),
        round(max("d8").cast("double") / 1e8 * 100, 4).as("max_dd_pct"))
  }

  /** Decontamination cost: prices REMOVING the training rows whose
    * distinct token-trigram overlap with `bench`'s shingle set exceeds
    * 5% — rows and token mass lost per group. The benchmark shingle set
    * is eval-suite-sized, so it broadcasts; the flag joins back to the
    * group/token metadata by id. `train` is read twice (pass a
    * materialized frame). Returns (groupCol, n_docs, n_flagged,
    * tokens_total, tokens_lost, loss_share).
    */
  def decontaminationCost(train: DataFrame, idCol: String, groupCol: String,
      textCol: String, tokens: org.apache.spark.sql.Column, bench: DataFrame): DataFrame = {
    val shing = (t: org.apache.spark.sql.Column) => TextFunctions.tokenShingles(t, 3)
    val bsh = bench.select(explode(shing(col(textCol))).as("sh")).distinct()
    val docsh = train.select(col(idCol), explode(shing(col(textCol))).as("sh"))
    val tot = docsh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val hit = docsh.join(broadcast(bsh), "sh")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    val fl = tot.join(hit, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh") > 0.05, 1L)
          .otherwise(0L).as("bad"))
    train.select(col(idCol), col(groupCol), tokens.as("toks"))
      .join(fl, idCol)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum("bad").as("n_flagged"),
        sum("toks").as("tokens_total"),
        sum(when(col("bad") === 1, col("toks")).otherwise(0L)).as("tokens_lost"),
        round(sum(when(col("bad") === 1, col("toks")).otherwise(0L)).cast("double")
          / sum("toks"), 6).as("loss_share"))
  }

  /** k-suppression cost curve: rows lost, groups dropped and the cost
    * share when publishing only QI groups of size ≥ k, for k ∈
    * {2, 5, 10, 20} — the other arm of the anonymization tradeoff
    * (coarsening the QI is the first). The group-size table computes
    * ONCE (checkpointed); the thresholds ride a fan-out over it
    * (QI-bounded, not row-bounded). Returns (k, n_published,
    * n_suppressed, groups_suppressed, suppression_cost).
    */
  def suppressionCost(df: DataFrame, qiCols: Seq[String]): DataFrame = {
    val g = df.groupBy(qiCols.map(col): _*).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val ks = Seq(2L, 5L, 10L, 20L)
    g.withColumn("k", explode(array(ks.map(lit): _*)))
      .groupBy("k")
      .agg(sum(when(col("n") >= col("k"), col("n")).otherwise(0L)).as("n_published"),
        sum(when(col("n") < col("k"), col("n")).otherwise(0L)).as("n_suppressed"),
        sum(when(col("n") < col("k"), 1L).otherwise(0L)).as("groups_suppressed"),
        round(sum(when(col("n") < col("k"), col("n")).otherwise(0L)).cast("double")
          / sum("n"), 6).as("suppression_cost"))
  }

  /** Per-group token-accounting ledger — "where did my tokens go": raw →
    * quality gate (≥ 20 tokens) → near-dup removal (normalized
    * token-multiset md5 digest, first id wins) → context truncation (cap
    * 96). One scan derives every stage (each is a filter +
    * re-aggregation of the SAME scanned columns); the 16-byte digest is
    * the only wide shuffle key. Returns (groupCol, docs_raw, toks_raw,
    * docs_quality, toks_quality, docs_dedup, toks_dedup, toks_packed).
    */
  def tokenLedger(df: DataFrame, idCol: String, textCol: String, groupCol: String): DataFrame = {
    val t = df.select(col(idCol), col(groupCol),
      size(split(col(textCol), " ")).cast("long").as("ntok"),
      md5(concat_ws(" ", sort_array(split(col(textCol), " ")))).as("dg"))
    val s0 = t.groupBy(groupCol)
      .agg(count(lit(1)).as("docs_raw"), sum("ntok").as("toks_raw"))
    val q = t.filter(col("ntok") >= 20)
    val s1 = q.groupBy(groupCol)
      .agg(count(lit(1)).as("docs_quality"), sum("ntok").as("toks_quality"))
      .withColumnRenamed(groupCol, "src1")
    val k = q.withColumn("rk",
      row_number().over(Window.partitionBy(col("dg")).orderBy(col(idCol))))
    val s2 = k.filter(col("rk") === 1).groupBy(groupCol)
      .agg(count(lit(1)).as("docs_dedup"), sum("ntok").as("toks_dedup"),
        sum(least(col("ntok"), lit(96L))).as("toks_packed"))
      .withColumnRenamed(groupCol, "src2")
    s0.join(s1, col(groupCol) === col("src1"), "left")
      .join(s2, col(groupCol) === col("src2"), "left")
      .select(col(groupCol), col("docs_raw"), col("toks_raw"),
        coalesce(col("docs_quality"), lit(0L)).as("docs_quality"),
        coalesce(col("toks_quality"), lit(0L)).as("toks_quality"),
        coalesce(col("docs_dedup"), lit(0L)).as("docs_dedup"),
        coalesce(col("toks_dedup"), lit(0L)).as("toks_dedup"),
        coalesce(col("toks_packed"), lit(0L)).as("toks_packed"))
  }

  /** Prosecutor re-identification risk of a QI release, per `byCol`:
    * QI groups, singletons (k=1 → certain re-id), the expected risk
    * Σ 1/k and the max 1/k. Risk rationals are integer divisions
    * (1e9 div k, 1e6 div k) so the sum is an exact BIGINT fold. Returns
    * (byCol as long, n_groups, n_singletons, exp_reid, max_risk).
    */
  def reidRisk(df: DataFrame, qiCols: Seq[String], byCol: String): DataFrame =
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("k"))
      .groupBy(col(byCol).cast("long").as(byCol))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("k") === 1, 1L).otherwise(0L)).as("n_singletons"),
        (floor(sum(expr("1000000000 div k")).cast("double") / 1000 + 0.5) / 1000000)
          .as("__tmp"),
        (expr("1000000 div min(k)").cast("double") / 1000000).as("max_risk"))
      .select(col(byCol), col("n_groups"), col("n_singletons"),
        col("__tmp").as("exp_reid"), col("max_risk"))

  /** Rank-biased precision (p = 0.8, depth 20) per query group: the
    * user-model retrieval metric whose discount is a geometric "keep
    * reading" probability (complements nDCG's log discount). Ranking =
    * ORDER BY rankCol DESC, idCol; relevance is the predicate
    * `relevant`. Discounts (1−p)·p^(r−1) are plan-time 1e8-quantized
    * BIGINTs ([[graft.operators.Round7oOps.rbpW]]), one division at
    * emission. Returns (queryCol, n_rel_top20, rbp).
    */
  def rbp(df: DataFrame, queryCol: String, rankCol: String, idCol: String,
      relevant: org.apache.spark.sql.Column): DataFrame = {
    val wArr = array(graft.operators.Round7oOps.rbpW.map(lit): _*)
    val byRank = Window.partitionBy(queryCol).orderBy(col(rankCol).desc, col(idCol))
    df.select(col(queryCol), when(relevant, 1).otherwise(0).as("rel"),
        row_number().over(byRank).cast("long").as("rn"))
      .groupBy(queryCol)
      .agg(sum(when(col("rel") === 1 && col("rn") <= 20, 1L).otherwise(0L)).as("n_rel_top20"),
        sum(when(col("rel") === 1 && col("rn") <= 20,
          element_at(wArr, col("rn").cast("int"))).otherwise(0L)).as("wsum"))
      .select(col(queryCol), col("n_rel_top20"),
        (floor(col("wsum").cast("double") / 100 + 0.5) / 1000000).as("rbp"))
  }

  /** Signed business-day (weekday) distance between two date/timestamp
    * columns as closed-form epoch-day algebra: W(e) = 5·⌊(e+3)/7⌋ +
    * min((e+3) mod 7, 5) counts weekdays in [epoch, e) (1970-01-01 was a
    * Thursday → the +3 shift anchors Monday at 0), so the distance is
    * W(end) − W(start) — pure integer arithmetic, identical on any
    * engine, no calendar-walking UDF. Antisymmetric: negative when `end`
    * precedes `start`; floor/pmod keep it right before 1970 too.
    */
  def weekdaysBetween(start: org.apache.spark.sql.Column,
      end: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def wk(e: org.apache.spark.sql.Column) =
      lit(5L) * floor((e + 3) / 7).cast("long") + least(pmod(e + 3, lit(7)), lit(5L))
    wk(datediff(end, lit("1970-01-01")).cast("long")) -
      wk(datediff(start, lit("1970-01-01")).cast("long"))
  }

  /** Token-vocabulary drift between groups `a` and `b` via map HOFs:
    * each group's token→count map is built once (one aggregation — the
    * vocabulary is corpus-bounded), then map_filter / map_contains_key /
    * map_zip_with compute the shared-key overlap and the L1 count
    * distance over shared keys; every lambda is single-level, inside
    * codegen. One row (n_shared, n_only_a, n_only_b, l1_shared).
    */
  def vocabDrift(df: DataFrame, groupCol: String, textCol: String,
      a: String, b: String): DataFrame = {
    def vmap(v: String, out: String) =
      df.filter(col(groupCol) === v)
        .select(explode(split(col(textCol), " ")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("n"))
        .agg(map_from_entries(sort_array(collect_list(struct(col("t"), col("n")))))
          .as(out))
    val m = vmap(a, "m0").crossJoin(vmap(b, "m1"))
    val shared0 = map_filter(col("m0"), (k, _) => map_contains_key(col("m1"), k))
    val zip = map_zip_with(shared0, col("m1"), (_, x, y) =>
      when(x.isNotNull && y.isNotNull, abs(x - y)).otherwise(0L))
    m.select(
      size(shared0).cast("long").as("n_shared"),
      (size(col("m0")) - size(shared0)).cast("long").as("n_only_a"),
      (size(col("m1")) - size(map_filter(col("m1"),
        (k, _) => map_contains_key(col("m0"), k)))).cast("long").as("n_only_b"),
      aggregate(map_values(zip), lit(0L), (acc, x) => acc + x).as("l1_shared"))
  }

  /** Pinball-loss quantile-forecast evaluation per group: the portable
    * `keyCol` hash splits 3 train shards : 1 test (never an engine RNG);
    * the train split's exact type-1 q50/q90 of the integer (cents)
    * `centsCol` — a per-group rank pick, not percentile(): type-1 is the
    * cross-engine-stable choice — score the test split under pinball
    * loss (τ-scaled one-sided errors; τ=0.5 gives MAE/2). Loss terms stay
    * exact BIGINT deci-cents until the ONE division at emission.
    * Returns (groupCol, n_test, q50, q90, pinball50, pinball90).
    */
  def pinballEval(df: DataFrame, groupCol: String, centsCol: String,
      keyCol: String): DataFrame = {
    def D(c: org.apache.spark.sql.Column) = c.cast("double")
    val h = idHash(col(keyCol)) % 4
    val j = df.select(col(keyCol), col(centsCol), h.as("h"), col(groupCol))
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col(centsCol), col(keyCol))
    val wAll = Window.partitionBy(col(groupCol))
    val tr = j.filter(col("h") < 3)
      .select(col(groupCol), col(centsCol),
        row_number().over(wOrd).as("rn"), count(lit(1)).over(wAll).as("n"))
    val qq = tr.groupBy(groupCol)
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col(centsCol))).as("q50"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col(centsCol))).as("q90"))
    val te = j.filter(col("h") === 3).select(col(groupCol).as("tseg"), col(centsCol))
    te.join(qq, col("tseg") === col(groupCol))
      .groupBy(col(groupCol), col("q50"), col("q90"))
      .agg(count(lit(1)).as("n_test"),
        sum(greatest(lit(5) * (col(centsCol) - col("q50")),
          lit(-5) * (col(centsCol) - col("q50")))).as("l50"),
        sum(greatest(lit(9) * (col(centsCol) - col("q90")),
          -(col(centsCol) - col("q90")))).as("l90"))
      .select(col(groupCol), col("n_test"),
        (D(col("q50")) / 100).as("q50"), (D(col("q90")) / 100).as("q90"),
        round(D(col("l50")) / 1000 / col("n_test"), 6).as("pinball50"),
        round(D(col("l90")) / 1000 / col("n_test"), 6).as("pinball90"))
  }

  /** MASE — mean absolute scaled error — of a 3-step moving-average
    * forecast over an ordered integer series, scaled by the one-step
    * naive baseline: THE unit-free forecast-accuracy metric. The 3-step
    * mean is kept as a ×3 integer, so both absolute-error sums stay
    * exact until the final ratio. Returns (n_scored, sum_err3x,
    * sum_naive3x, mase).
    */
  def mase(series: DataFrame, tCol: String, xCol: String): DataFrame = {
    val w = Window.orderBy(col(tCol))
    val l = series.select(col(xCol),
      lag(col(xCol), 1).over(w).as("x1"), lag(col(xCol), 2).over(w).as("x2"),
      lag(col(xCol), 3).over(w).as("x3"))
    l.filter(col("x3").isNotNull)
      .select(abs(lit(3) * col(xCol) - (col("x1") + col("x2") + col("x3"))).as("e3"),
        abs(lit(3) * col(xCol) - lit(3) * col("x1")).as("e1"))
      .agg(count(lit(1)).as("n_scored"),
        sum("e3").as("sum_err3x"), sum("e1").as("sum_naive3x"))
      .select(col("n_scored"), col("sum_err3x"), col("sum_naive3x"),
        round(col("sum_err3x").cast("double") / col("sum_naive3x"), 6).as("mase"))
  }

  /** Hodges–Lehmann pseudo-median per group over an ordered series: the
    * median of all Walsh averages (x_i + x_j)/2, i ≤ j — the robust
    * location estimator paired with the Wilcoxon test. Walsh sums stay
    * INTEGER; the rank pick halves only at emission. An EVEN Walsh
    * count averages the two middle Walsh sums (the standard HL
    * pseudo-median, not the lower median). `tCol` must be UNIQUE within
    * each group — the i ≤ j pairing keys on it. The pair space is
    * |series|² per group: bound the series (e.g. by the calendar).
    * Returns (groupCol, hl_estimate, n_walsh).
    */
  def hodgesLehmann(series: DataFrame, groupCol: String, tCol: String,
      xCol: String): DataFrame = {
    val a = series.select(col(groupCol), col(tCol).as("y1"), col(xCol).as("x1"))
    val b = series.select(col(groupCol).as("pr2"), col(tCol).as("y2"), col(xCol).as("x2"))
    val w = a.join(b, col(groupCol) === col("pr2") && col("y1") <= col("y2"))
      .select(col(groupCol), col("y1"), col("y2"), (col("x1") + col("x2")).as("s"))
    val wRn = Window.partitionBy(col(groupCol)).orderBy(col("s"), col("y1"), col("y2"))
    val wAll = Window.partitionBy(col(groupCol))
    w.select(col(groupCol), col("s"),
        row_number().over(wRn).as("rn"), count(lit(1)).over(wAll).as("nw"))
      .groupBy(groupCol)
      .agg(((max(when(col("rn") === expr("(nw + 1) div 2"), col("s")))
          + max(when(col("rn") === expr("(nw + 2) div 2"), col("s"))))
          .cast("double") / 4)
          .as("hl_estimate"),
        max(col("nw")).cast("long").as("n_walsh"))
  }

  /** Kendall τ-b with tie corrections over an ordered series (the
    * tie-corrected twin of τ-a). x/y must be exact integers so tie
    * detection is never a float comparison. Tie counts follow the
    * canonical (scipy/R) convention: `tx` counts ALL x-tied pairs and
    * `ty` ALL y-tied pairs — a pair tied in BOTH counts in both — so
    * τ-b = (nc − nd)/√((n0 − tx)(n0 − ty)) matches the standard
    * statistic even with duplicate (x, y) pairs. Counts are exact off
    * the |series|² self-join; τ-b divides once at emission. Returns
    * (nc, nd, tx, ty, n0, tau_b).
    */
  def kendallTauB(series: DataFrame, tCol: String, xCol: String,
      yCol: String): DataFrame = {
    def D(c: org.apache.spark.sql.Column) = c.cast("double")
    val a = series.select(col(tCol).as("ym1"), col(xCol).as("x1"), col(yCol).as("y1"))
    val b = series.select(col(tCol).as("ym2"), col(xCol).as("x2"), col(yCol).as("y2"))
    val p = a.join(b, col("ym1") < col("ym2"))
    p.agg(
        sum(when((col("x1") < col("x2") && col("y1") < col("y2")) ||
          (col("x1") > col("x2") && col("y1") > col("y2")), 1L).otherwise(0L)).as("nc"),
        sum(when((col("x1") < col("x2") && col("y1") > col("y2")) ||
          (col("x1") > col("x2") && col("y1") < col("y2")), 1L).otherwise(0L)).as("nd"),
        sum(when(col("x1") === col("x2"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("y1") === col("y2"), 1L).otherwise(0L)).as("ty"),
        count(lit(1)).as("n0"))
      .select(col("nc"), col("nd"), col("tx"), col("ty"), col("n0"),
        round(D(col("nc") - col("nd"))
          / sqrt(D(col("n0") - col("tx")) * (col("n0") - col("ty"))), 6).as("tau_b"))
  }

  /** Brier score with the Murphy decomposition (reliability /
    * resolution / uncertainty): `pmCol` = integral milli-unit forecasts
    * 0..999, `yCol` = 0/1 outcomes, 10 equal bins. Every bin statistic
    * is an exact integer sum; the three terms are single IEEE
    * expressions of those sums, 1e-6 quantized. `brier` is the TRUE
    * mean (p − y)² off the exact integer Σ(pm − 1000y)² (with many
    * distinct forecasts per bin rel − res + unc is only an
    * approximation); `resid` reports the gap the binning leaves.
    */
  def brierDecomposition(df: DataFrame, pmCol: String, yCol: String): DataFrame = {
    def D(c: org.apache.spark.sql.Column) = c.cast("double")
    val b = df.groupBy(expr(s"$pmCol div 100").as("bin"))
      .agg(count(lit(1)).as("n"), sum(pmCol).as("sp"), sum(yCol).as("sy"))
    val t = df.agg(count(lit(1)).as("nn"), sum(yCol).as("syy"),
      sum((col(pmCol) - lit(1000L) * col(yCol)) * (col(pmCol) - lit(1000L) * col(yCol)))
        .as("bq"))
    val pbar = D(col("sp")) / col("n") / 1000
    val ybar = D(col("sy")) / col("n")
    val gbar = D(col("syy")) / col("nn")
    b.crossJoin(broadcast(t))
      .agg(
        (sum(D(col("n")) * (pbar - ybar) * (pbar - ybar)) / max(col("nn"))).as("rel"),
        (sum(D(col("n")) * (ybar - gbar) * (ybar - gbar)) / max(col("nn"))).as("res"),
        max(gbar * (lit(1) - gbar)).as("unc"),
        max(D(col("bq")) / 1000000 / col("nn")).as("bt"),
        max(col("nn")).as("nn"))
      .select(col("nn").as("n_scored"),
        round(col("rel"), 6).as("reliability"),
        round(col("res"), 6).as("resolution"),
        round(col("unc"), 6).as("uncertainty"),
        round(col("bt"), 6).as("brier"),
        round(col("bt") - (col("rel") - col("res") + col("unc")), 6).as("resid"))
  }

  /** √-scaled mixture quotas allocated to an EXACT total of 100 rows via
    * largest-remainder rounding — the standard LLM data-mixing rule
    * (sample ∝ √size flattens the long tail). Weights are 1e6-quantized
    * √counts; floor quotas plus the largest integer remainders make
    * Σquota = 100 — pure integer arithmetic after the one
    * correctly-rounded sqrt. Returns (groupCol, n_docs, weight6, quota).
    */
  def sqrtQuota(df: DataFrame, groupCol: String): DataFrame = {
    val l = df.groupBy(groupCol).agg(count(lit(1)).as("n"))
    val w = l.select(col(groupCol), col("n"),
      floor(sqrt(col("n").cast("double")) * 1000000).cast("long").as("w6"))
    val wAll = Window.partitionBy()
    val t = w.select(col(groupCol), col("n"), col("w6"),
      expr("100 * w6").as("p"), sum(col("w6")).over(wAll).as("tw"))
      .select(col(groupCol), col("n"), col("w6"),
        expr("p div tw").as("q0"), (col("p") % col("tw")).as("rem"))
    t.select(col(groupCol), col("n"), col("w6"), col("q0"), col("rem"),
        row_number().over(Window.orderBy(col("rem").desc, col(groupCol))).as("rk"),
        (lit(100) - sum(col("q0")).over(wAll)).as("leftover"))
      .select(col(groupCol), col("n").as("n_docs"), col("w6").as("weight6"),
        (col("q0") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .cast("long").as("quota"))
  }

  /** Keyed pseudonymization Column: sha2-256 of salt ‖ "|" ‖ key — the
    * same token on every engine/run, so pseudonymized tables stay
    * joinable exactly where the raw keys were.
    */
  def pseudonymize(key: org.apache.spark.sql.Column,
      salt: String): org.apache.spark.sql.Column =
    sha2(concat(lit(salt + "|"), key.cast("string")), 256)

  /** Canonicalize a URL Column: scheme-preserving (http stays http —
    * the prefix length is derived from the scheme, not hard-coded),
    * lowercase host, strip www., drop EVERY utm_* query param wherever
    * it sits (leading `?`, middle `&`, or trailing — no dangling
    * separators left behind), trim the trailing slash — the first
    * dedup stage of a crawl pipeline (q_dedup_31_url_canonical).
    */
  def canonicalizeUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val scheme = lower(substring_index(url, "://", 1))
    val host = split_part(url, lit("/"), lit(3))
    val rest = url.substr(length(scheme) + length(host) + 4, lit(100000))
    // pass 1 drops utm params followed by another param (lookbehind
    // anchors the name to its ? or & separator so a non-utm param
    // whose name merely ends in "utm_..." is untouched; keeps the
    // leading separator for what follows); pass 2 drops a trailing utm
    // param together with its own leading ? or &, whether it ends the
    // string or abuts a #fragment
    val noUtm = regexp_replace(
      regexp_replace(rest, "(?<=[?&])utm_[A-Za-z_]+=[^&#]*&", ""),
      "[?&]utm_[A-Za-z_]+=[^&#]*(?=#|$)", "")
    concat(scheme, lit("://"),
      regexp_replace(lower(host), "^www\\.", ""),
      rtrim(noUtm, "/"))
  }

  /** The same k rows from every group on any cluster size or engine:
    * bottom-k by the portable multiplicative hash of the long `keyCol`,
    * as the typed Aggregator [[graft.operators.Round7nOps.BottomKAgg]]
    * whose k-bounded buffer partial-aggregates map-side (O(k) state per
    * group per task). Returns (groupCol, rn 1..k, keyCol).
    */
  def bottomKSample(df: DataFrame, groupCol: String, keyCol: String, k: Int): DataFrame = {
    val bk = udaf(new graft.operators.Round7nOps.BottomKAgg(k))
    df.groupBy(groupCol)
      .agg(bk(col(keyCol)).as("bk"))
      .select(col(groupCol), posexplode(col("bk.ks")).as(Seq("pos", keyCol)))
      .select(col(groupCol), (col("pos") + 1).cast("long").as("rn"), col(keyCol))
  }

  /** Exact order statistics of a LONG column WITHOUT a single-partition
    * global sort — the scale form that replaces the
    * `row_number().over(Window.orderBy(v))` rank-pick pattern on
    * fact-sized input (where the no-partition window funnels the whole
    * table through one task).
    *
    * Shape: range-partition + per-partition sort on the value (ONE
    * shuffle; each partition owns a contiguous, locally-sorted value
    * range), count rows per partition (a P-row driver exchange),
    * prefix-sum the histogram, then scan only the partitions that own
    * a requested rank for their local indices — each task ~N/P rows,
    * bounded by cluster parallelism, not data size. Both jobs share
    * one RDD lineage, so the shuffle map output is computed once and
    * reused — no cache or checkpoint, nothing pinned in the block
    * manager. The value at global rank r does not depend on where
    * Spark draws the range boundaries: equal values always land in the
    * same range partition, so the histogram offsets identify the
    * owning partition and local index deterministically, and the
    * picked VALUE is unique even when ranks tie.
    *
    * `ranksOf` receives the total row count n and returns the 1-based
    * ranks wanted (ascending value order). Returns (n, rank -> value).
    * The collect is O(P + #ranks) — the same bounded-driver-action
    * class as a 1-row aggregate. `valueCol` must be non-null.
    */
  def exactRankPick(df: DataFrame, valueCol: String,
      ranksOf: Long => Seq[Long], partitions: Int = 0): (Long, Map[Long, Long]) = {
    val parts = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // range-partition + local sort ONCE; the count job and the pick job
    // share the same RDD lineage, so the shuffle map output is computed
    // once and reused — no cache, no checkpoint, nothing to evict
    val sorted = df.select(col(valueCol).cast("long").as("__v"))
      .repartitionByRange(parts, col("__v"))
      .sortWithinPartitions("__v")
      .rdd.map(_.getLong(0))
    val hist = sorted
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
      .collect().sortBy(_._1)
    val n = hist.map(_._2).sum
    // empty input: no order statistics exist — return (0, empty) and
    // let callers decide (the window form this replaces yielded a
    // null-valued row; throwing here would be a behavior change)
    if (n == 0L) return (0L, Map.empty)
    val ranks = ranksOf(n).distinct
    require(ranks.nonEmpty && ranks.forall(r => r >= 1 && r <= n),
      s"exactRankPick: ranks $ranks outside [1, $n]")
    var off = 0L
    val spans = hist.map { case (pid, cnt) => val lo = off; off += cnt; (pid, lo, off) }
    // global rank r lives in the partition whose span (lo, hi] contains
    // it, at local 0-based index r - lo - 1
    val wanted: Map[Int, Seq[(Long, Long)]] = ranks
      .map { r =>
        val (pid, lo, _) = spans.find { case (_, lo2, hi) => r > lo2 && r <= hi }.get
        (pid, r, r - lo - 1)
      }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(x => (x._2, x._3)) }
    val picked = sorted
      .mapPartitionsWithIndex { (pid, it) =>
        wanted.get(pid) match {
          case None => Iterator.empty
          case Some(rs) =>
            val want = rs.map(_._2).toSet
            // manual Long counter, NOT zipWithIndex: its Int index
            // wraps negative past 2^31 rows per partition — exactly
            // the at-scale regime this helper exists for
            var idx = -1L
            it.flatMap { v =>
              idx += 1
              if (want(idx)) Iterator.single((pid, idx, v)) else Iterator.empty
            }
        }
      }
      .collect().map { case (pid, i, v) => (pid, i) -> v }.toMap
    (n, wanted.toSeq.flatMap { case (pid, rs) =>
      rs.map { case (g, l) => g -> picked((pid, l)) }
    }.toMap)
  }

  /** Exact global 1-based rank over a TOTAL order (the `orderCols`
    * must be a unique key, so ties cannot reorder across engines)
    * WITHOUT a single-partition sort: range-partition on the order
    * key, count rows per partition, broadcast the P-row prefix-sum
    * offsets back, and add each partition's local `row_number` to its
    * offset. Two fact shuffles (range + the pid-keyed window) replace
    * the one-task global sort; every stage is ~N/P per task.
    *
    * Returns the input columns plus `rankCol`. The driver action is
    * the P-row histogram collect — bounded by parallelism.
    */
  def exactGlobalRank(df: DataFrame, orderCols: Seq[String],
      rankCol: String, partitions: Int = 0): DataFrame =
    exactGlobalRankBy(df, orderCols.map(col), rankCol, partitions)

  /** Column-expression form of [[exactGlobalRank]] — use for mixed
    * asc/desc orders, e.g. `Seq(col("cnt").desc, col("token"))`. The
    * order must still be a total (unique) one.
    */
  def exactGlobalRankBy(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column],
      rankCol: String, partitions: Int = 0): DataFrame =
    exactGlobalRankByN(df, orderCols, rankCol, partitions)._2

  /** [[exactGlobalRankBy]] that ALSO returns the total row count n —
    * free off the per-partition count pass, so ntile-style callers
    * need no separate `df.count()` scan. The machinery is the
    * rfmSegments shape (range-partition + local sort + per-partition
    * offsets): the count job and the rank job share one RDD lineage,
    * so the range shuffle is computed once and its map output reused —
    * no cache/checkpoint, nothing pinned in the block manager.
    */
  def exactGlobalRankByN(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column],
      rankCol: String, partitions: Int = 0): (Long, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parts = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val rdd = sorted.rdd
    val hist = rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
      .collect().sortBy(_._1)
    var off = 0L
    val offsets = hist.map { case (pid, cnt) => val lo = off; off += cnt; (pid, lo) }.toMap
    val n = off
    val ranked = df.sparkSession.createDataFrame(
      rdd.mapPartitionsWithIndex { (pid, it) =>
        // manual Long counter, NOT zipWithIndex (Int index wraps past
        // 2^31 rows per partition — the at-scale regime this is for)
        var rank = offsets(pid)
        it.map { r => rank += 1; Row.fromSeq(r.toSeq :+ rank) }
      },
      StructType(sorted.schema.fields :+ StructField(rankCol, LongType, nullable = false)))
    (n, ranked)
  }

  /** Per-GROUP exact 1-based rank + per-group row count WITHOUT a
    * constant-width window sort — the grouped sibling of
    * [[exactGlobalRankByN]] (r12 verdict item 1). The window form
    * `row_number().over(Window.partitionBy(g).orderBy(o))` creates ONE
    * task per distinct g; when g has 2-25 values over a row-scaled
    * input that is a straggler pair each sorting a corpus-sized slice.
    * Here the data is range-partitioned by (groupCols, orderCols) —
    * every task ~N/P rows regardless of the group cardinality — then a
    * per-(partition, group) histogram (P×G rows, driver-bounded: G is
    * constant-cardinality by the caller's contract) supplies each
    * partition's starting rank within its groups, and a second pass
    * over the SAME shuffle output adds local row numbers to those
    * offsets. The count/rank jobs share one RDD lineage, so the range
    * shuffle computes once — no cache, nothing pinned.
    *
    * Returns the input columns plus `rankCol` (1-based rank within the
    * group, ordered by orderCols) and `nCol` (the group's row count) —
    * the exact pair the window form produced. Ties in (groupCols,
    * orderCols) land in one range partition and take consecutive
    * arbitrary ranks, so either make the order total (unique key) or
    * pick only VALUES at ranks (a rank-pick of a tied value is the
    * same value whichever tie holds the rank — exactRankPick's
    * argument).
    */
  def exactGroupRankCount(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[org.apache.spark.sql.Column], rankCol: String,
      nCol: String, partitions: Int = 0): DataFrame =
    groupRankPrefix(df, groupCols, orderCols, rankCol, nCol, Nil, partitions)

  /** The general per-group order machinery behind
    * [[exactGroupRankCount]]: one range shuffle on (groupCols,
    * orderCols) carries the per-group 1-based rank (`rankCol`), the
    * group's row count (`nCol`), and — per `valueOutCols` entry
    * (value, runningOut, totalOut) — the inclusive per-group running
    * sum of an integral column plus (when totalOut is non-empty) the
    * group's total. This is the grouped sibling of both
    * [[exactGlobalRankByN]] and [[prefixSumN]] in a single pass: the
    * per-(partition, group) histogram (counts AND sums — P×G rows,
    * driver-bounded when G is constant-cardinality) supplies each
    * partition's starting rank/sums within its groups, and the second
    * pass over the SAME shuffle output adds local row numbers and
    * running sums to those offsets. Integer sums are order-insensitive,
    * so running sums are bit-identical to the window form under any
    * tie order (the ranks need a total order, or value-only picks —
    * see exactGroupRankCount's doc).
    */
  def groupRankPrefix(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[org.apache.spark.sql.Column], rankCol: String,
      nCol: String, valueOutCols: Seq[(String, String, String)],
      partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(groupCols.nonEmpty, "groupRankPrefix needs group columns")
    val parts = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sortCols = groupCols.map(col) ++ orderCols
    val sorted = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val gIdx = groupCols.map(sorted.schema.fieldIndex).toList
    val vIdx = valueOutCols.map { case (v, _, _) => sorted.schema.fieldIndex(v) }
    val nV = vIdx.size
    def longAt(r: Row, i: Int): Long = r.get(i) match {
      case l: Long => l
      case x: Int => x.toLong
      case x: Short => x.toLong
      case x: Byte => x.toLong
      case other => throw new IllegalArgumentException(
        s"groupRankPrefix: non-integral value $other")
    }
    val rdd = sorted.rdd
    // pass 1: per-(partition, group) count + value sums. Groups are
    // contiguous within a partition (sorted by group first), so this is
    // a streaming run-length fold, and the collect is P×G rows —
    // bounded by parallelism times the (constant) group cardinality,
    // the same driver-action class as exactGlobalRankByN's histogram.
    val hist: Array[(Int, Seq[(List[Any], Array[Long])])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val runs = scala.collection.mutable.ArrayBuffer.empty[(List[Any], Array[Long])]
        var cur: List[Any] = null
        var agg: Array[Long] = null // [count, sum_0, ..., sum_{nV-1}]
        it.foreach { r =>
          val g = gIdx.map(r.get)
          if (cur == null || g != cur) {
            if (cur != null) runs += ((cur, agg))
            cur = g; agg = new Array[Long](1 + nV)
          }
          agg(0) += 1
          var i = 0
          while (i < nV) { agg(1 + i) += longAt(r, vIdx(i)); i += 1 }
        }
        if (cur != null) runs += ((cur, agg))
        Iterator.single((pid, runs.toSeq))
      }.collect().sortBy(_._1)
    // each (partition, group)'s starting rank/sums = that group's
    // totals over earlier partitions; group totals fall out of the fold
    val acc = scala.collection.mutable.Map.empty[List[Any], Array[Long]]
    val starts: Map[Int, Map[List[Any], Array[Long]]] = hist.map { case (pid, gs) =>
      pid -> gs.map { case (g, a) =>
        val lo = acc.getOrElseUpdate(g, new Array[Long](1 + nV)).clone()
        val cum = acc(g)
        var i = 0
        while (i <= nV) { cum(i) += a(i); i += 1 }
        (g, lo)
      }.toMap
    }.toMap
    val totals: Map[List[Any], Array[Long]] = acc.toMap
    // pass 2: local row number + running sums on top of the group's
    // partition offsets; group totals ride along as constants per run
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      val offs = starts.getOrElse(pid, Map.empty)
      var cur: List[Any] = null
      var run: Array[Long] = null
      var tot: Array[Long] = null
      it.map { r =>
        val g = gIdx.map(r.get)
        if (cur == null || g != cur) {
          cur = g; run = offs(g).clone(); tot = totals(g)
        }
        run(0) += 1
        var i = 0
        while (i < nV) { run(1 + i) += longAt(r, vIdx(i)); i += 1 }
        val extra = scala.collection.mutable.ArrayBuffer[Any](run(0), tot(0))
        i = 0
        while (i < nV) {
          extra += run(1 + i)
          if (valueOutCols(i)._3.nonEmpty) extra += tot(1 + i)
          i += 1
        }
        Row.fromSeq(r.toSeq ++ extra)
      }
    }
    val extraFields = Seq(StructField(rankCol, LongType, nullable = false),
      StructField(nCol, LongType, nullable = false)) ++
      valueOutCols.flatMap { case (_, runOut, totOut) =>
        Seq(StructField(runOut, LongType, nullable = false)) ++
          (if (totOut.nonEmpty) Seq(StructField(totOut, LongType, nullable = false)) else Nil)
      }
    df.sparkSession.createDataFrame(ranked,
      StructType(sorted.schema.fields ++ extraFields))
  }

  /** Per-group `lead` of an integral column WITHOUT a constant-width
    * window sort — the grouped sibling of [[adjacentPairs]]: range-
    * partition on (groupCols, orderCols), per-partition lookahead for
    * intra-partition leads, and a P-row driver exchange of each
    * partition's FIRST (group, value) to stitch partition boundaries
    * (a partition's last row leads into the next non-empty partition's
    * first row iff the group matches). Returns the input plus `outCol`
    * (nullable: the last row of each group has no lead — exactly the
    * window form's null).
    */
  def groupLeadLong(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[org.apache.spark.sql.Column], valueCol: String,
      outCol: String, partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(groupCols.nonEmpty, "groupLeadLong needs group columns")
    val parts = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sortCols = groupCols.map(col) ++ orderCols
    val sorted = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val gIdx = groupCols.map(sorted.schema.fieldIndex).toList
    val vIdx = sorted.schema.fieldIndex(valueCol)
    def longAt(r: Row): Long = r.get(vIdx) match {
      case l: Long => l
      case x: Int => x.toLong
      case other => throw new IllegalArgumentException(
        s"groupLeadLong: non-integral value $other")
    }
    val rdd = sorted.rdd
    // pass 1: each non-empty partition's first (group, value) — the
    // P-row boundary exchange (shuffle map output reused by pass 2)
    val heads: Array[(Int, List[Any], Long)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext) {
        val r = it.next()
        Iterator.single((pid, gIdx.map(r.get), longAt(r)))
      } else Iterator.empty
    }.collect().sortBy(_._1)
    // partition p's successor head = the first head with pid > p
    val nextHead: Map[Int, (List[Any], Long)] = {
      val pids = heads.map(_._1)
      (0 until parts).flatMap { p =>
        pids.find(_ > p).map { np =>
          val h = heads.find(_._1 == np).get
          p -> (h._2, h._3)
        }
      }.toMap
    }
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val succ = nextHead.get(pid)
      new Iterator[Row] {
        private var prev: Row = if (it.hasNext) it.next() else null
        def hasNext: Boolean = prev != null
        def next(): Row = {
          val r = prev
          val g = gIdx.map(r.get)
          val lead: Any =
            if (it.hasNext) {
              prev = it.next()
              if (gIdx.map(prev.get) == g) longAt(prev) else null
            } else {
              prev = null
              succ match {
                case Some((hg, hv)) if hg == g => hv
                case _ => null
              }
            }
          Row.fromSeq(r.toSeq :+ lead)
        }
      }
    }
    df.sparkSession.createDataFrame(out,
      StructType(sorted.schema.fields :+ StructField(outCol, LongType, nullable = true)))
  }

  /** Column-count form of [[ntileOfRank]] for PER-GROUP ntile: `nCol`
    * is the group's row count (e.g. exactGroupRankCount's nCol) instead
    * of a driver-side constant. Same exact builtin semantics: the first
    * n%k buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋.
    */
  def ntileOfRankN(rankCol: org.apache.spark.sql.Column,
      nCol: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    def idiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      ((a - pmod(a, b)) / b).cast("long")
    val base = idiv(nCol, lit(k.toLong))
    val rem = pmod(nCol, lit(k.toLong))
    val cut = rem * (base + 1)
    when(rankCol <= cut, idiv(rankCol - 1, base + 1) + 1)
      .otherwise(rem + idiv(rankCol - cut - 1, greatest(base, lit(1L))) + 1)
      .cast("long")
  }

  /** Shared tail of q_stream_30_funnel_time and its streaming twin
    * (r12 verdict item 3 — the two copies could drift): per-hop user
    * count plus exact order-statistic median/p90 of the integer gaps,
    * truncated to minutes. Input: (hop, gap_us). The ranks come from
    * [[exactGroupRankCount]] — scale-safe under the 2-value hop key
    * (the window form was a 2-task corpus sort) — and the picks are
    * value-only, so gap_us ties cannot move the answer.
    */
  def funnelGapStats(hops: DataFrame): DataFrame = {
    val r = exactGroupRankCount(hops, Seq("hop"), Seq(col("gap_us")), "rn", "n")
    r.groupBy("hop")
      .agg(max("n").as("n_users"),
        (max(when(col("rn") === floor((col("n") + 1) / lit(2.0)).cast("long"), col("gap_us")))
          / 60000000L).cast("long").as("median_minutes"),
        (max(when(col("rn") === floor((lit(9) * col("n") + 9) / lit(10.0)).cast("long"),
          col("gap_us"))) / 60000000L).cast("long").as("p90_minutes"))
      .orderBy("hop")
  }

  /** Exact running sum of a LONG column over a TOTAL order WITHOUT a
    * single-partition window: range-partition on the order key, sum
    * each partition (P-row aggregate), prefix-sum the per-partition
    * totals on the driver, and add each partition's offset to its
    * local cumulative sum. Integer sums are order-insensitive, so the
    * result is bit-identical to the one-task
    * `sum(v).over(Window.orderBy(...))` form it replaces. Returns the
    * input plus `outCol` (the inclusive running sum).
    */
  def prefixSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
      outCol: String, partitions: Int = 0): DataFrame =
    prefixSumN(df, orderCols, Seq(valueCol -> outCol), partitions)

  /** Multi-column form of [[prefixSum]]: all running sums share ONE
    * range shuffle and one P-row offset exchange.
    */
  private[graft] def prefixSumN(df: DataFrame, orderCols: Seq[String],
      valueOutCols: Seq[(String, String)], partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(valueOutCols.nonEmpty, "prefixSumN needs at least one value column")
    val parts = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val vIdx = valueOutCols.map { case (v, _) => sorted.schema.fieldIndex(v) }
    def longAt(r: Row, i: Int): Long = r.get(i) match {
      case l: Long => l
      case x: Int => x.toLong
      case x: Short => x.toLong
      case x: Byte => x.toLong
      case other => throw new IllegalArgumentException(
        s"prefixSumN: non-integral value $other")
    }
    val rdd = sorted.rdd
    // pass 1: per-partition totals (the count/sum job and the cumsum
    // job share one RDD lineage → the range shuffle computes once)
    val hist = rdd.mapPartitionsWithIndex { (pid, it) =>
      val sums = Array.fill(vIdx.size)(0L)
      it.foreach(r => vIdx.indices.foreach(i => sums(i) += longAt(r, vIdx(i))))
      Iterator((pid, sums.toSeq))
    }.collect().sortBy(_._1)
    val offs = Array.fill(vIdx.size)(0L)
    val offsets: Map[Int, Seq[Long]] = hist.map { case (pid, sums) =>
      val lo = offs.toSeq
      sums.indices.foreach(i => offs(i) += sums(i))
      pid -> lo
    }.toMap
    // pass 2: local running sums + the exact integer partition offsets
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val run = offsets(pid).toArray
      it.map { r =>
        vIdx.indices.foreach(i => run(i) += longAt(r, vIdx(i)))
        Row.fromSeq(r.toSeq ++ run.toSeq)
      }
    }
    df.sparkSession.createDataFrame(out,
      StructType(sorted.schema.fields ++
        valueOutCols.map { case (_, o) => StructField(o, LongType, nullable = false) }))
  }

  /** Every adjacent pair of a totally-ordered LONG id column WITHOUT a
    * single-partition `lead` window: range-partition on the id,
    * per-partition `lead` (intra-partition pairs), then stitch each
    * partition's last id to the next non-empty partition's first id —
    * a P-row driver-side boundary exchange. Returns (idCol, `nxtCol`)
    * for every consecutive pair, exactly the rows the global
    * `lead(id, 1).over(Window.orderBy(id))` form emits (minus the
    * final null-next row).
    */
  def adjacentPairs(df: DataFrame, idCol: String, nxtCol: String,
      partitions: Int = 0): DataFrame = {
    val parts = if (partitions > 0) partitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.select(col(idCol).cast("long").as(idCol))
      .repartitionByRange(parts, col(idCol))
      .sortWithinPartitions(idCol)
      .rdd.map(_.getLong(0))
    // pass 1: non-empty partitions' (first, last); the boundary pairs
    // stitch partition p's last id to the next non-empty partition's
    // first id — a P-row driver exchange (shuffle reused by pass 2)
    val bounds = sorted.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext) {
        val first = it.next(); var last = first
        it.foreach(last = _)
        Iterator((pid, first, last))
      } else Iterator.empty
    }.collect().sortBy(_._1)
    val cross = bounds.sliding(2).collect {
      case Array((_, _, last), (_, first, _)) => (last, first)
    }.toSeq
    import df.sparkSession.implicits._
    val intra = sorted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        var prev = it.next()
        it.map { v => val p = (prev, v); prev = v; p }
      }
    }.toDF(idCol, nxtCol)
    if (cross.isEmpty) intra
    else intra.union(df.sparkSession.createDataFrame(cross).toDF(idCol, nxtCol))
  }

  /** Spark/DuckDB `ntile(k)` bucket for a row at global 1-based rank
    * `rankCol` out of `n` total: the first n%k buckets take ⌈n/k⌉
    * rows, the rest ⌊n/k⌋ — the exact builtin semantics, expressed on
    * a distributed rank so no single-partition window is needed.
    */
  def ntileOfRank(rankCol: org.apache.spark.sql.Column, n: Long,
      k: Int): org.apache.spark.sql.Column = {
    // exact integer division (Spark's `/` is double division; the
    // subtract-mod form keeps the quotient an exactly-representable
    // integer for any rank < 2^53)
    def idiv(a: org.apache.spark.sql.Column, b: Long) =
      ((a - pmod(a, lit(b))) / b).cast("long")
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1)
    when(rankCol <= cut, idiv(rankCol - 1, base + 1) + 1)
      .otherwise(lit(rem) + idiv(rankCol - cut - 1, math.max(base, 1L)) + 1)
      .cast("long")
  }
}

