package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev utility with two modes.
  *
  * With query names: print the formatted physical plan + steady-state
  * timing of each named declared query at sf0.1 (or SPARK_GRAFT_SF_DIR):
  * `java -cp … graft.tools.Explain q_join_3_multiway …`
  *
  * With no arguments: the plan dump used to check that a refactor leaves
  * plans alone. For every declared query, in Registry order, it prints
  * `===== <name> jobs=<n> =====` (n = Spark jobs started while the query's
  * DataFrame is built) and the optimized logical plan, normalised so that
  * two runs of the same code print the same text (see [[normalise]]).
  * Diff two dumps to compare two commits:
  * `SPARK_GRAFT_SF_DIR=…/sf0.001 SPARK_GRAFT_CPUS=4 java -cp … graft.tools.Explain > plans.txt`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.isEmpty) dump(spark, d)
    for (n <- args) {
      println(s"===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, d)
      df.explain("formatted")
      for (i <- 1 to 2) {
        val t0 = System.nanoTime()
        df.count()
        println(s"run$i: ${(System.nanoTime() - t0) / 1e9}s")
      }
    }
    spark.stop()
  }

  private def dump(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    for (q <- graft.Registry.all) {
      val text =
        try {
          waitForListenerBus(spark)
          val j0 = jobs.get
          val df = q.fn(spark, dir)
          waitForListenerBus(spark)
          val n = jobs.get - j0
          s"jobs=$n =====\n" + normalise(df.queryExecution.optimizedPlan.toString)
        } catch { case e: Throwable => s"error =====\n${e.getClass.getName}" }
      println(s"===== ${q.name} $text")
      graft.BlockCleanup(spark)
    }
  }

  private def waitForListenerBus(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** Strips what differs between two runs of the same code: expression
    * ids (`x#123`), `__`-prefixed temp column names, identity-hash
    * suffixes (`Agg$@416374ec`) and lambda class names. Distinct
    * aggregates are rewritten through an `Expand` whose groups follow
    * hash-set iteration order, so on their lines the `gid` numbers are
    * dropped, every bracketed list is sorted and each `Expand`
    * projection is reordered by output column name.
    */
  private def normalise(plan: String): String =
    plan
      .replaceAll("#\\d+", "#")
      .replaceAll("\\b__\\w+", "__")
      .replaceAll("\\$\\$Lambda[$\\d]*/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,8}\\b", "@")
      .split("\n").map { line =>
        if (line.contains("Expand [[")) expand(line)
        else if (line.contains("gid#")) sortLists(line.replaceAll("gid# = \\d+", "gid# = ?"))
        else line
      }.mkString("\n")

  /** The (start, end) spans of the top-level `[...]` groups of `s`. */
  private def groups(s: String): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var depth = 0
    var start = 0
    for (i <- s.indices) s(i) match {
      case '[' => if (depth == 0) start = i; depth += 1
      case ']' => depth -= 1; if (depth == 0) out += ((start, i + 1))
      case _ =>
    }
    out.toSeq
  }

  /** The comma-separated items of `s` outside any bracket or paren. */
  private def items(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    for (i <- s.indices) s(i) match {
      case '[' | '(' => depth += 1
      case ']' | ')' => depth -= 1
      case ',' if depth == 0 => out += s.substring(start, i).trim; start = i + 1
      case _ =>
    }
    out += s.substring(start).trim
    out.toSeq
  }

  private def sortLists(line: String): String =
    groups(line).reverse.foldLeft(line) { case (l, (a, b)) =>
      l.substring(0, a) + items(l.substring(a + 1, b - 1)).sorted.mkString("[", ", ", "]") +
        l.substring(b)
    }

  private def expand(line: String): String = {
    val at = line.indexOf("Expand [[") + "Expand ".length
    val Seq((pa, pb), (oa, ob)) = groups(line.substring(at)).take(2).map {
      case (a, b) => (a + at, b + at)
    }
    val outs = items(line.substring(oa + 1, ob - 1))
    val order = outs.indices.sortBy(outs)
    val gid = outs.indexWhere(_.startsWith("gid#"))
    val projs = items(line.substring(pa + 1, pb - 1)).map { p =>
      val v = items(p.substring(1, p.length - 1))
      order.map(i => if (i == gid) "?" else v(i)).mkString("[", ", ", "]")
    }
    line.substring(0, pa) + projs.sorted.mkString("[", ", ", "]") + line.substring(pb, oa) +
      order.map(outs).mkString("[", ", ", "]") + line.substring(ob)
  }
}
