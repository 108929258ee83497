package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Protocol (same as BASELINE.md's binding numbers):
  * one full untimed warm pass (absorbs codegen + JIT churn — with ~130
  * distinct queries the generated whole-stage-codegen classes swamp the
  * JIT compile queue and random mid-suite queries would run interpreted,
  * observed 10-40x outliers), then TWO timed steady-state passes
  * min-merged per query (run-position noise of several seconds was
  * observed on identical code round-over-round; the min is the
  * steady-state signal, and both raw runs are kept in
  * bench_out.json.runs.json).
  *
  * Output durability (round-1 lesson: a single >16 KB stdout line got
  * truncated by the log capture and 77/136 timings were lost):
  *  - the FULL per-query JSON is written to bench_out.json (override
  *    with SPARK_GRAFT_BENCH_OUT);
  *  - stdout gets per-family subtotal lines plus ONE compact JSON line
  *    (per-query seconds rounded to 3 decimals) that stays well under
  *    any capture limit.
  *
  * A query that throws in either timed pass is named in the record's
  * `failed` list; its `queries` entry is the time until it threw, not a
  * timing of the query.
  */
object Bench {

  /** One timed pass: each query's wall seconds (`count()` after
    * construction), and the names of the queries that threw. Each
    * query's localCheckpoint residue is dropped outside the timer, so
    * storage blocks cannot accumulate across the passes and squeeze
    * later queries' execution memory (the r8 run1->run2 drift); the
    * shared SampledEdges cache is kept.
    */
  private[graft] def timedPass(spark: SparkSession, sfDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): (Map[String, Double], Set[String]) = {
    val failed = Set.newBuilder[String]
    val times = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case _: Throwable => failed += name }
      val dt = (System.nanoTime() - t0) / 1e9
      BlockCleanup(spark)
      name -> dt
    }.toMap
    (times, failed.result())
  }

  /** The default 240 MB JIT code cache is exhausted by ~300 distinct
    * generated queries (measured: late queries deoptimize to the
    * interpreter and inflate 10–40× — PERF.md round-5 note). If this
    * JVM was launched without a big-enough cache, re-exec the same
    * main in a child JVM that has one, forwarding output verbatim, so
    * the bench numbers are trustworthy regardless of how the harness
    * invoked us. Returns true if the child ran (caller exits).
    */
  private def reExecWithCodeCache(args: Array[String]): Boolean = {
    val want = 512L * 1024 * 1024
    val have = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .stream().filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
      .mapToLong(p => p.getUsage.getMax).sum()
    if (have >= want || sys.env.contains("SPARK_GRAFT_NO_REEXEC")) return false
    val javaBin = s"${sys.props("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    jvmArgs.forEach(a => if (!a.startsWith("-XX:ReservedCodeCacheSize")) cmd.add(a))
    cmd.add("-XX:ReservedCodeCacheSize=1g")
    cmd.add("-cp"); cmd.add(sys.props("java.class.path"))
    cmd.add("graft.Bench"); args.foreach(cmd.add)
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_NO_REEXEC", "1")
    pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val rc = pb.start().waitFor()
    if (rc != 0) sys.exit(rc)
    true
  }

  def main(args: Array[String]): Unit = {
    if (reExecWithCodeCache(args)) return
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional name-substring args restrict the run (local spot-timing
    // only; the driver always runs the full set)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.exists(n.contains) }
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      BlockCleanup(spark) // drop the query's localCheckpoint residue
    }
    // Two timed passes, min-merged per query (round-5 lesson: single-run
    // position noise — q_graph_13_hits 5.7 vs 2.4 s on identical code —
    // contaminated round-over-round comparisons; the min of two runs is
    // the steady-state signal). Both raw runs land beside the merged
    // record for the audit trail.
    val (run1, failed1) = timedPass(spark, sfDir, selected)
    val (run2, failed2) = timedPass(spark, sfDir, selected)
    val failedNames = (failed1 ++ failed2).toSeq.sorted
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val results = run1.map { case (name, s1) => name -> math.min(s1, run2(name)) }
    val total = if (results.nonEmpty) results.values.sum else 0.0

    def json(qs: Iterable[(String, Double)], fmt: Double => String): String =
      qs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(f"BENCH_RUN1 total ${run1.values.sum}%.1f sec; BENCH_RUN2 total ${run2.values.sum}%.1f sec (min-merged below)")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath + ".runs.json"),
      s"""{"run1":${json(run1, _.toString)},"run2":${json(run2, _.toString)}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // self-grading keys (r7 verdict item 4): both raw run totals, the
    // min-merged total, and every query over the 5 s per-query budget
    val overBudget = results.filter(_._2 > 5.0).toSeq.sortBy(-_._2)
      .map { case (n, s) => "\"" + n + "\"" }.mkString("[", ",", "]")
    val runsKey =
      f"""{"run1_total":${run1.values.sum}%.3f,"run2_total":${run2.values.sum}%.3f}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results, _.toString)},"sf":"$sfDir","runs":$runsKey,"min":$total,"over_budget":$overBudget,"failed":$failed}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // Per-family subtotals (family = the token after "q_"), for humans
    // and for cross-checking a truncated capture.
    val fam = results.toSeq
      .groupBy { case (n, _) => n.split("_").lift(1).getOrElse("other") }
      .map { case (f, qs) => f -> qs.map(_._2).sum }
      .toSeq.sortBy(-_._2)
    fam.foreach { case (f, s) => println(f"BENCH_FAMILY $f%-8s ${s}%8.2f sec") }
    // loud per-query budget flags: >5s = over the per-query budget,
    // >10s = over the acceptance bound (the round-4 ⚠ class)
    results.filter(_._2 > 5.0).toSeq.sortBy(-_._2).foreach { case (n, s) =>
      println(f"BENCH_WARN  $n%-34s ${s}%6.2f sec ${if (s > 10) "OVER ACCEPTANCE BOUND" else "over 5s budget"}")
    }
    failedNames.foreach(n => println(s"BENCH_FAIL  $n threw in a timed pass"))
    println(s"BENCH_FULL_JSON written to $outPath (${results.size} queries)")

    val compact = json(results, v => f"$v%.3f")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$compact,"sf":"$sfDir","queries_file":"$outPath","runs":$runsKey,"min":$total,"over_budget":$overBudget,"failed":$failed}""")
    graft.sources.SampledEdges.clear()
    spark.stop()
  }
}
