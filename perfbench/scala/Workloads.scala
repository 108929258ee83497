package perfbench

import graft.{Q, Registry}
import org.apache.spark.sql.functions._

/** The benchmark's workloads: which declared queries each one runs, drawn
  * by a fixed rule from `Registry.all` so that the list changes only when
  * the inventory does.
  */
object Workloads {
  private val tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

  private def family(q: Q): String = q.name.split("_")(1)

  /** The fixture tables an oracle SQL statement reads. */
  def tablesOf(q: Q): Set[String] =
    q.oracle.toSeq.flatMap(sql =>
      tables.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined)).toSet

  private val checked = Registry.all.filter(_.oracle.isDefined)

  /** Every `k`th of `qs`, from the `first`th on (counting from 0). */
  private def every(k: Int, first: Int)(qs: Seq[Q]): Seq[Q] =
    qs.zipWithIndex.collect { case (q, i) if i % k == first => q }

  /** Every 5th graph query in Registry order, from the first on. */
  def graph: Seq[Q] = every(5, 0)(checked.filter(family(_) == "graph"))

  /** Every 32nd, from the 25th on, of the oracle-checked queries of the
    * LLM-data families (dedup, pipe, mm, text, sim) that read only
    * documents and embeddings, in Registry order.
    */
  def corpus: Seq[Q] = {
    val families = Set("dedup", "pipe", "mm", "text", "sim")
    every(32, 24)(checked.filter { q =>
      val t = tablesOf(q)
      families(family(q)) && t.nonEmpty && t.subsetOf(Set("documents", "embeddings"))
    })
  }

  /** Two queries that must be reported failed, beside one that passes:
    * one throws when its result is produced, one returns a result that
    * differs from its oracle.
    */
  def selftest: Seq[Q] = Seq(
    Registry.byName("q_join_3_multiway"),
    Q("selftest_throws", "SELECT 1 AS x") { (s, _) =>
      s.range(1).select(raise_error(lit("selftest: always throws")).as("x"))
    },
    Q("selftest_wrong", "SELECT 1 AS x") { (s, _) =>
      s.range(1).select(lit(2).as("x"))
    })

  def apply(name: String): Seq[Q] = name match {
    case "graph_sf001" => graph
    case "corpus_scaled" => corpus
    case "selftest" => selftest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
