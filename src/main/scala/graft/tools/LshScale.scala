package graft.tools

import org.apache.spark.sql.functions._

/** Full-corpus LSH band-join scale rehearsal (r12, VERDICT r11 item 7).
  *
  * The declared LSH queries (q_dedup_3/7/33) pin ORACLE slices
  * (doc_id < 100 — DuckDB must recompute the same minhashes), so their
  * ScaleBench3 exponents say nothing about the band join at corpus
  * scale. This harness runs the production shape — `lshBandKeys` over
  * the WHOLE documents table, then the banded self-join to distinct
  * candidate pairs — at each dir:factor point and fits the LSQ slope
  * of log wall over log factor, printing the pair count per point so
  * output growth is visible (ScaleGen perturbs replica tokens, so
  * cross-replica shingle overlap is zero and true pairs grow ~linearly
  * in the factor).
  *
  * Usage: graft.tools.LshScale <dir:factor> [dir:factor ...]
  */
object LshScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LshScale <dir:factor> [dir:factor ...]")
    val points = args.toSeq.map { a =>
      val Array(dir, f) = a.split(":"); (dir, f.toDouble)
    }
    val spark = LocalSession()
    def pairs(dir: String) = {
      val bands = graft.operators.TextOps.lshBandKeys(
        graft.sources.Tables(spark, dir, "documents"))
      bands.as("a").join(bands.as("b"),
          col("a.j") === col("b.j") && col("a.band_key") === col("b.band_key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }
    val rows = points.map { case (dir, f) =>
      pairs(dir).count() // untimed warm pass
      graft.BlockCleanup(spark)
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = pairs(dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.BlockCleanup(spark)
        (dt, n)
      }
      val (t1, n) = once(); val (t2, _) = once()
      val t = math.min(t1, t2)
      println(f"| ${f}%.0fx | $t%.2f s | $n pairs |")
      (f, t, n)
    }
    val xs = rows.map(r => math.log(r._1)); val ys = rows.map(r => math.log(r._2))
    val nP = xs.length
    if (nP >= 2) {
      val mx = xs.sum / nP; val my = ys.sum / nP
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      println(f"LSQ slope (log wall / log factor): ${num / den}%.2f")
    }
    spark.stop()
  }
}
