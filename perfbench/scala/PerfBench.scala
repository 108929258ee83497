package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.{BlockCleanup, Q}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.SampledEdges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in one JVM, or the dump its oracle
  * check reads.
  *
  *   run    <workload> <dataDir> <seed> <seconds> <trace 0|1> <expected> <out>
  *   verify <workload> <dataDir> <outDir>
  *
  * `run` issues the workload's queries back to back from one client: one
  * untimed warm pass, then one whole timed pass per `NominalPassS` of
  * `seconds` (at least two). Each query is built, then produced in
  * full (every row and column, through [[digest]]) and checked against the digest of an
  * oracle-checked result (`expected`). A query that throws or whose
  * digest differs is failed and its time enters no figure. `verify`
  * writes each query's result and digest for that oracle check.
  * Results go to a JSON file; stdout carries only Spark's noise.
  */
object PerfBench {
  /** About the length of one warm pass of either benchmarked workload
    * on 4 vCPU. The pass count is fixed by `seconds` rather than timed,
    * so that every run measures the same stretch of the JIT's warm-up,
    * however busy the machine is.
    */
  val NominalPassS = 8.0

  def session(): SparkSession = {
    val slots = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Produce every row and column of `df` through its own physical plan
    * (the ORDER BY and every projection run, unlike `count()`), as one
    * SQL execution the listeners see. Returns (rows, order-independent
    * sum of the rows' UnsafeRow hashes).
    */
  def digest(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        it.foreach { r => n += 1; h += proj(r).hashCode & 0xffffffffL }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
    }
  }

  def digestString(d: (Long, Long)): String = s"${d._1}:${d._2}"

  private def now(): Long = System.nanoTime()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** One query execution as the run saw it: `action` holds the counters
    * of the materializing action, `all` those of the whole query.
    */
  final case class Exec(name: String, pass: Int, status: String, buildS: Double,
      planS: Double, actionS: Double, cleanupS: Double, eagerJobs: Long,
      action: Counters.Snap, all: Counters.Snap, storedPeak: Long) {
    def ok: Boolean = status == "ok"
    def totalS: Double = buildS + actionS
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "run" =>
      run(args(1), args(2), args(3).toLong, args(4).toDouble, args(5) == "1",
        args(6), args(7))
    case "verify" => verify(args(1), args(2), args(3))
  }

  private def verify(workload: String, dataDir: String, outDir: String): Unit = {
    val spark = session()
    val out = new StringBuilder
    Workloads(workload).foreach { q =>
      val status =
        try {
          val d = digest(q.fn(spark, dataDir))
          q.fn(spark, dataDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${q.name}")
          digestString(d)
        } catch { case e: Throwable => "error:" + e.getClass.getName }
      BlockCleanup(spark)
      out ++= Json.obj("name" -> q.name, "digest" -> status,
        "oracle" -> q.oracle.get.replace("{SF_DIR}", dataDir)) + "\n"
    }
    Files.write(Paths.get(s"$outDir/dump.jsonl"), out.toString.getBytes(UTF_8))
    SampledEdges.clear()
    spark.stop()
  }

  private def run(workload: String, dataDir: String, seed: Long, seconds: Double,
      trace: Boolean, expectedPath: String, outPath: String): Unit = {
    val spark = session()
    val queries = Workloads(workload)
    // one "name<TAB>digest" line per oracle-checked query
    val expected: Map[String, String] =
      new String(Files.readAllBytes(Paths.get(expectedPath)), UTF_8).split("\n")
        .filter(_.nonEmpty).map { l => val Array(n, d) = l.split("\t"); n -> d }.toMap
    val counters = Counters.attach(spark, trace)
    val edgesBuildS = if (trace && queries.exists(_.name.startsWith("q_graph_"))) {
      val t0 = now()
      Seq(1, 200).foreach(m => SampledEdges.handoff(spark, dataDir, m))
      Seq(100, 20, 200).foreach(m => SampledEdges.bidir(spark, dataDir, m))
      (now() - t0) / 1e9
    } else 0.0

    def execute(q: Q, pass: Int): Exec = {
      if (trace) Counters.drain(spark)
      val c0 = counters.snapshot()
      var cb = c0
      counters.resetStoredPeak()
      var buildNs, actionNs = 0L
      val status =
        try {
          val t0 = now()
          val df = q.fn(spark, dataDir)
          buildNs = now() - t0
          if (trace) { Counters.drain(spark); cb = counters.snapshot() }
          val t1 = now()
          val d = digestString(digest(df))
          actionNs = now() - t1
          if (expected.get(q.name).contains(d)) "ok" else "wrong_result"
        } catch { case e: Throwable => e.getClass.getName }
      val t2 = now()
      BlockCleanup(spark)
      val cleanupNs = now() - t2
      if (trace) Counters.drain(spark)
      val c = counters.snapshot()
      Exec(q.name, pass, status, buildNs / 1e9, (c.planNs - c0.planNs) / 1e9,
        actionNs / 1e9, cleanupNs / 1e9, cb.jobs - c0.jobs, c - cb, c - c0,
        counters.storedPeak.get)
    }

    def order(pass: Int): Seq[Q] = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    val warm = order(0).map(execute(_, 0))
    Counters.drain(spark)
    counters.peakTaskMem.reset()
    val setupEndMs = System.currentTimeMillis()
    val execs = ArrayBuffer.empty[Exec]
    val passCpuS = ArrayBuffer.empty[Double]
    val tStart = now()
    val passes = math.max(2, math.round(seconds / NominalPassS).toInt)
    for (pass <- 1 to passes) {
      val cpu0 = processCpuNs()
      order(pass).foreach(q => execs += execute(q, pass))
      passCpuS += (processCpuNs() - cpu0) / 1e9
    }
    val timedS = (now() - tStart) / 1e9
    Counters.drain(spark)
    val peakTaskMem = counters.peakTaskMem.get

    // Per query, the mean of its successful timed executions: on a shared
    // machine bursts of stolen CPU time inflate whole passes, and the
    // mean over the whole timed phase repeats from run to run better
    // than the fastest pass (on the reference runs the spread of wall_s
    // was 13-18 % against 19-20 %, and of cpu_s 10-15 % against
    // 13-23 %). The median latency is taken over every successful timed
    // execution: with a handful of queries, a median of per-query
    // figures follows one query's noise.
    val okTimes = execs.filter(_.ok)
    val perQuery = okTimes.groupBy(_.name).values.map(es => es.map(_.totalS).sum / es.size).toSeq
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    if (!trace) {
      metrics += (("wall_s", perQuery.sum, "s"))
      metrics += (("query_p50_s", median(okTimes.map(_.totalS).toSeq), "s"))
      metrics += (("cpu_s", passCpuS.sum, "s"))
      metrics += (("peak_task_mem_mb", peakTaskMem / 1e6, "MB"))
    } else {
      val byPass = execs.groupBy(_.pass).values.toSeq
      def perPass(f: Seq[Exec] => Double): Double = median(byPass.map(p => f(p.filter(_.ok).toSeq)))
      def sumC(f: Exec => Double): Double = perPass(_.map(f).sum)
      metrics += (("operators.build_s", sumC(_.buildS), "s"))
      metrics += (("operators.eager_jobs", sumC(_.eagerJobs.toDouble), "count"))
      metrics += (("planning.plan_s", sumC(_.planS), "s"))
      metrics += (("exec.action_s", sumC(_.actionS), "s"))
      metrics += (("exec.jobs", sumC(_.action.jobs.toDouble), "count"))
      metrics += (("exec.stages", sumC(_.action.stages.toDouble), "count"))
      metrics += (("exec.tasks_per_stage",
        perPass(es => es.map(_.action.tasks).sum.toDouble / math.max(1L, es.map(_.action.stages).sum)), "ratio"))
      metrics += (("exec.task_cpu_s", sumC(_.action.cpuNs / 1e9), "s"))
      metrics += (("exec.gc_s", sumC(_.action.gcMs / 1e3), "s"))
      metrics += (("shuffle.write_mb", sumC(_.all.shuffleWrite / 1e6), "MB"))
      metrics += (("shuffle.spill_mb", sumC(_.all.spill / 1e6), "MB"))
      metrics += (("sources.scan_mb", sumC(_.all.scanBytes / 1e6), "MB"))
      metrics += (("sources.edges_build_s", edgesBuildS, "s"))
      metrics += (("storage.blocks", sumC(_.all.blocks.toDouble), "count"))
      metrics += (("storage.peak_mb", perPass(es => if (es.isEmpty) 0.0 else es.map(_.storedPeak).max / 1e6), "MB"))
      metrics += (("storage.cleanup_s", sumC(_.cleanupS), "s"))
      metrics += (("wall_s", perQuery.sum, "s"))
      kernels(spark, dataDir).foreach(metrics += _)
    }

    val record = Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> trace,
      "slots" -> spark.sparkContext.defaultParallelism,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "setup_end_epoch_ms" -> setupEndMs,
      "timed_s" -> timedS,
      "passes" -> passes,
      "pass_cpu_s" -> Json.raw(passCpuS.mkString("[", ",", "]")),
      "attempted" -> execs.size,
      "failed" -> execs.count(!_.ok),
      "metrics" -> Json.raw(metrics.map { case (n, v, u) =>
        Json.obj("name" -> n, "value" -> v, "unit" -> u) }.mkString("[", ",", "]")),
      // counters are attributed per query only when tracing drains the bus
      "executions" -> Json.raw((warm ++ execs).map { e =>
        Json.obj(Seq("name" -> e.name, "pass" -> e.pass, "status" -> e.status,
          "build_s" -> e.buildS, "action_s" -> e.actionS) ++ (if (!trace) Nil else Seq(
          "plan_s" -> e.planS, "cleanup_s" -> e.cleanupS, "eager_jobs" -> e.eagerJobs,
          "jobs" -> e.action.jobs, "stages" -> e.action.stages,
          "tasks" -> e.action.tasks)): _*)
      }.mkString("[", ",", "]")))
    Files.write(Paths.get(outPath), record.getBytes(UTF_8))
    SampledEdges.clear()
    spark.stop()
  }

  /** Seconds to produce each kernel's projection over the workload's own
    * documents and embeddings, median of three.
    */
  private def kernels(spark: SparkSession, dataDir: String): Seq[(String, Double, String)] = {
    val docs = graft.sources.Tables(spark, dataDir, "documents")
    val emb = graft.sources.Tables(spark, dataDir, "embeddings")
    val probes = emb.orderBy("vec_id").limit(4)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val text = col("text")
    val e = col("embedding")
    val p = col("probe")
    def timed(df: => DataFrame): Double =
      median((1 to 3).map { _ => val t0 = now(); digest(df); (now() - t0) / 1e9 })
    Seq(
      ("functions.minhash_s", timed(docs.select(TextFunctions.minhashSignature(text, 16),
        TextFunctions.shingleMinhashSignature(text, 2, 16))), "s"),
      ("functions.shingles_s", timed(docs.select(TextFunctions.tokenShingles(text, 3))), "s"),
      ("functions.simhash_s", timed(docs.select(TextFunctions.simhash32(text))), "s"),
      ("functions.vector_s", timed(emb.crossJoin(broadcast(probes)).select(
        VectorFunctions.cosine(e, p), VectorFunctions.dot(e, p), VectorFunctions.sqDist(e, p))), "s"))
  }
}

/** Just enough JSON to write the benchmark's flat records. */
object Json {
  final case class raw(s: String)

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case raw(s) => s
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case other => other.toString
    })
  }.mkString("{", ",", "}")
}
