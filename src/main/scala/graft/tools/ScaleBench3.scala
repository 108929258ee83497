package graft.tools

import org.apache.spark.sql.SparkSession

/** Three-point scale rehearsal (round 10, VERDICT r9 item 2): two scale
  * points cannot separate "linear" from "quadratic with a small
  * constant" — an n²/1000 plan reads as exponent 0.93 at 10× (exactly
  * how q_dedup_9_entity's fixed-cardinality blocking hid through round
  * 8). With sf0.1 / sf1′ (10×) / sf3′ (30×) the least-squares slope of
  * log t over log factor separates them: linear ⇒ slope ≤ ~1 at every
  * pairwise step; n² ⇒ the 10×→30× step alone shows slope → 2.
  *
  * Prints per-query wall times at each point, the pairwise exponents
  * e(1→10) and e(10→30), and the LSQ slope; two points give the
  * plain two-point exponent log(t₁/t₀)/log(f₁/f₀). Timings are
  * min-of-two after one untimed warm pass per dataset; BlockCleanup
  * runs between queries so checkpoint residue from one point can't
  * squeeze the next (the r9 drift lesson).
  *
  * Usage:
  *   graft.tools.ScaleBench3 [--solo] <q1,q2,...> <dir0:f0> <dir1:f1> [dir2:f2 ...]
  * e.g.
  *   graft.tools.ScaleBench3 q_dedup_9_entity,q_graph_14_bipartite \
  *     /root/testdata/sf0.1:1 /tmp/graft_sf1:10 /tmp/graft_sf3:30
  *
  * `--solo` (round 11, VERDICT r10 item 6): re-exec each query in its
  * OWN child JVM (inheriting this JVM's --add-opens/-XX:/-Xmx flags
  * and environment) so one query's JIT state, block-manager residue,
  * or GC pressure cannot pollute another's floor — the mechanized
  * form of the PERF protocol's "solo minima" note.
  */
object ScaleBench3 {
  def main(args: Array[String]): Unit = {
    val solo = args.contains("--solo")
    val rest = args.filterNot(_ == "--solo")
    // >= 2 points for an exponent fit; a SINGLE point is also accepted
    // (r12) — that's the solo-floor mode: one child JVM per query on
    // one dataset prints the clean per-query minimum with no exponent.
    require(rest.length >= 2, "usage: ScaleBench3 [--solo] <q1,q2,...> <dir:factor> [dir:factor ...]")
    val names = rest(0).split(",").toSeq
    if (solo) { runSolo(names, rest.drop(1).toSeq); return }
    val points = rest.drop(1).toSeq.map { a =>
      val Array(dir, f) = a.split(":"); (dir, f.toDouble)
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      // see LocalSession: partitions scale with the fixture, threads don't
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_PARTITIONS",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Queries whose OUTPUT is quadratic in ScaleGen's density scaling
    // (10x denser data over the SAME calendar window — a time-band
    // join's true pair count grows f² BY DEFINITION; the r9
    // adjudication): exponents for these fit log t against log
    // WORK (the named column's sum), not log input factor.
    val outputBound = Map(
      "q_join_8_theta_range" -> "n_pairs",
      "q_join_12_range_auto" -> "n_pairs",
      "q_join_26_band_tuning" -> "n_candidates")
    def workUnits(n: String, dir: String): Double =
      graft.SparkEntry.queries(n)(spark, dir)
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col(outputBound(n))))
        .head().getLong(0).toDouble

    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.BlockCleanup(spark)
        dt
      }
      math.min(once(), once())
    }
    // one untimed warm pass per (query, dataset) absorbs codegen/JIT
    for (n <- names; (dir, _) <- points) {
      try { graft.SparkEntry.queries(n)(spark, dir).count() }
      catch { case _: Throwable => () }
      graft.BlockCleanup(spark)
    }
    val hdr = points.map { case (_, f) => f"t(${f}%.0fx) s" }.mkString(" | ")
    println(s"| query | $hdr | pairwise e | lsq slope |")
    println("|---|" + points.map(_ => "---|").mkString + "---|---|")
    var bad = List.empty[String]
    for (n <- names) {
      // (input factor, work axis, wall s); work = input factor unless
      // the query is output-bound, in which case the probe's failure is
      // LOUD (r10 ADVICE: a silent fallback mixes per-output and
      // per-input axes in one fit and can mask real superlinearity)
      val ts = points.map { case (dir, f) =>
        val work =
          if (outputBound.contains(n))
            try workUnits(n, dir) catch { case e: Throwable =>
              println(s"WARN $n @ $dir: work-units probe threw " +
                s"${e.getClass.getSimpleName} — substituting the INPUT factor; " +
                "this row's exponent mixes axes, re-run before trusting it")
              f
            }
          else f
        (f, work, try time(n, dir) catch { case _: Throwable => -1.0 })
      }
      val ok = ts.filter(_._3 > 0)
      // label each pairwise exponent with the ACTUAL input-factor pair
      // it spans (r10 ADVICE: when a middle point fails, an unlabeled
      // sequence silently reads 1x->30x as an adjacent step)
      // equal-factor point pairs (solo-floor mode repeats one point) have
      // log(f1/f0)=0: the exponent is ±Infinity on pure jitter and the
      // LSQ denominator is 0 — emit NaN and never flag such pairs (r12
      // ADVICE: the single-point solo-floor mode prints no exponent)
      val pairwise = ok.sliding(2).collect { case Seq((if0, f0, t0), (if1, f1, t1)) =>
        (if0, if1, if (f1 == f0) Double.NaN else math.log(t1 / t0) / math.log(f1 / f0))
      }.toSeq
      // least-squares slope of log t over log work across OK points
      val xs = ok.map { case (_, f, _) => math.log(f) }
      val ys = ok.map { case (_, _, t) => math.log(t) }
      val nP = xs.length
      val slope =
        if (nP >= 2) {
          val mx = xs.sum / nP; val my = ys.sum / nP
          val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
          val den = xs.map(x => (x - mx) * (x - mx)).sum
          num / den
        } else Double.NaN
      val tCols = ts.map { case (_, _, t) =>
        if (t > 0) f"$t%.2f" else "FAIL" }.mkString(" | ")
      val pw = pairwise.map { case (a, b, e) => f"$a%.0f→$b%.0fx $e%.2f" }.mkString(" / ")
      val tag = if (outputBound.contains(n))
        f" (per-output, work ×${ts.last._2 / ts.head._2}%.0f)" else ""
      println(f"| $n$tag | $tCols | $pw | $slope%.2f |")
      // the last pairwise step is the discriminator: a small-constant
      // quadratic shows its true slope only once n² dominates
      if (pairwise.nonEmpty && pairwise.last._3 > 1.15) bad ::= n
      if (!slope.isNaN && slope > 1.15) bad ::= n
      if (ok.length < ts.length) bad ::= n // a failed point is never a pass
    }
    println(s"SCALE_SUPERLINEAR ${bad.distinct.sorted.mkString(",")}")
    graft.sources.SampledEdges.clear()
    spark.stop()
  }

  /** One child JVM per query: same classpath, the parent's
    * --add-opens/--add-exports/-XX:/-Xmx/-Xss flags, inherited
    * environment (so SPARK_GRAFT_* knobs propagate). Child rows are
    * relayed verbatim; the final SCALE_SUPERLINEAR line is the union
    * of the children's, plus any child that exits non-zero.
    */
  private def runSolo(names: Seq[String], pointArgs: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
        a.startsWith("-XX:") || a.startsWith("-Xmx") || a.startsWith("-Xss"))
      .toSeq
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    var bad = List.empty[String]
    for (n <- names) {
      println(s"SOLO $n")
      val cmd = Seq(javaBin) ++ inherited ++
        Seq("-cp", System.getProperty("java.class.path"),
          "graft.tools.ScaleBench3", n) ++ pointArgs
      val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
        .getLines().toList
      val code = proc.waitFor()
      for (l <- out if !l.startsWith("SCALE_SUPERLINEAR")) println(s"  $l")
      out.reverseIterator.find(_.startsWith("SCALE_SUPERLINEAR")) match {
        case Some(l) =>
          bad :::= l.stripPrefix("SCALE_SUPERLINEAR").trim
            .split(",").toList.filter(_.nonEmpty)
        case None => bad ::= n // child died before verdict
      }
      if (code != 0) { println(s"  CHILD EXIT $code"); bad ::= n }
    }
    println(s"SCALE_SUPERLINEAR ${bad.distinct.sorted.mkString(",")}")
  }
}
