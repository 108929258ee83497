package graft.sources

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-scoped cache of the sampled supplier-handoff edge lists the
  * graph family shares.
  *
  * Every q_graph query derives the same graph — DISTINCT directed
  * (src, dst) supplier pairs on consecutive line numbers of sampled
  * orders — and before this cache each one re-ran the lineitem
  * self-join (≈1–2 s at sf0.1). The derivation is deterministic, so one
  * localCheckpointed copy per (session, dataset, sample-mod) is
  * row-identical to the per-query builds it replaces (golden digests
  * unchanged — verified when the cache landed), and the graph family's
  * bench cost drops to one materialization per session.
  *
  * Concurrency (r7 ADVICE fix): the map holds a CompletableFuture per
  * key, inserted with putIfAbsent — a cheap O(1) operation — and the
  * winning thread runs the Spark materialization OUTSIDE any map bin
  * lock, so concurrent first-use from parallel suites queues on the
  * future, not on the hash bin. A failed build removes its future so
  * the next caller retries instead of caching the failure.
  *
  * Eviction (r7 ADVICE fix): [[clear]] best-effort-unpersists every
  * cached checkpoint's RDD blocks and empties the map — the harness
  * mains (Verify/Bench) call it before stopping their session, so a
  * long-lived application does not accumulate checkpoint blocks across
  * datasets. Entries are also keyed by applicationId, so a fresh
  * session never reads a stale entry.
  *
  * At 100 TB this is the "derived edge table" a production graph
  * pipeline materializes once per day, not per query; the cache is the
  * single place that policy would attach (a real warehouse would write
  * it through `Tables` as a parquet dataset).
  */
object SampledEdges {
  private val cache =
    new ConcurrentHashMap[String, CompletableFuture[DataFrame]]()

  /** Build-or-join a cache entry: the winning thread materializes
    * OUTSIDE any map bin lock, losers queue on the future, failures
    * retry (the r7 concurrency discipline, shared by both derived
    * tables).
    */
  private def cached(key: String)(build: => DataFrame): DataFrame = {
    val fresh = new CompletableFuture[DataFrame]()
    val existing = cache.putIfAbsent(key, fresh)
    if (existing != null) existing.join()
    else {
      try {
        val df = build
        // register the pinned blocks as session-scoped so the per-query
        // sweep keeps them (r10: caches own this coupling now, see
        // graft.BlockCleanup.keepAlive)
        checkpointRddId(df).foreach(graft.BlockCleanup.keepAlive)
        fresh.complete(df)
        df
      } catch {
        case e: Throwable =>
          cache.remove(key, fresh)
          fresh.completeExceptionally(e)
          throw e
      }
    }
  }

  /** DISTINCT directed handoff edges (src ≠ dst) on orders with
    * l_orderkey % mod == 0, localCheckpointed once per
    * (applicationId, dataset dir, mod).
    */
  def handoff(s: SparkSession, d: String, mod: Int): DataFrame =
    cached(s"${s.sparkContext.applicationId}|$d|$mod") {
      val li = Tables(s, d, "lineitem").filter(col("l_orderkey") % mod === 0)
      val a = li.select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_suppkey").as("src"))
      val b = li.select(col("l_orderkey").as("ok2"), col("l_linenumber").as("ln2"),
        col("l_suppkey").as("dst"))
      a.join(b, col("ok") === col("ok2") && (col("ln") + 1) === col("ln2"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
        .localCheckpoint()
    }

  /** The symmetrized (bidirected) form of [[handoff]]: union with the
    * src/dst swap, dedup — the undirected graph thirteen q_graph queries
    * share (mod 100: kcore/closeness/ktruss/neighbor-degree/labelprop/
    * adamic-adar/modularity; mod 200: hub-knockout/comp-sizes; mod 50:
    * degree-dist; mod 20: rich-club; mod 10: triangles/clustcoef, which
    * keep its src < dst half as their canonical list). Each previously
    * re-ran the union+distinct (and most the whole self-join) per
    * invocation; the derivation is deterministic and row-identical, so
    * one checkpointed copy per (session, dataset, mod) replaces them
    * (r14 — the same adjudication as [[handoff]], in place since r5).
    */
  def bidir(s: SparkSession, d: String, mod: Int): DataFrame =
    cached(s"${s.sparkContext.applicationId}|$d|bidir|$mod") {
      val e = handoff(s, d, mod)
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
    }

  /** The checkpoint-backing RDD id of a cached edge list (the id
    * registered keep-alive with [[graft.BlockCleanup]] on creation and
    * released on [[clear]]).
    */
  private def checkpointRddId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  /** Drop every cached edge list and best-effort-free its checkpoint
    * blocks. Harness entry points call this before `spark.stop()`.
    * The "lineage has been truncated" WARN Spark logs when a locally
    * checkpointed RDD is unpersisted is intentional here — the cache is
    * being dropped, nothing will recompute it — so it is silenced for
    * the duration of the sweep (it spooked a round-8 log audit).
    */
  def clear(): Unit = {
    graft.BlockCleanup.silencingCheckpointWarn {
      cache.values.forEach { f =>
        if (f.isDone && !f.isCompletedExceptionally) {
          scala.util.Try {
            f.join().queryExecution.analyzed match {
              case lr: org.apache.spark.sql.execution.LogicalRDD =>
                graft.BlockCleanup.release(lr.rdd.id)
                lr.rdd.unpersist(false)
              case _ => ()
            }
          }
        }
      }
    }
    cache.clear()
  }
}
