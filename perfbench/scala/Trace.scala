package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Running totals of what Spark did, fed by the listener bus: task and
  * block events as a SparkListener, planning time and scanned bytes of
  * every finished query as a QueryExecutionListener. Read them only after
  * [[Counters.drain]]: delivery is asynchronous.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, spill, scanBytes,
      planNs, blocks = new AtomicLong
  /** Largest `peakExecutionMemory` of any task since the last reset. */
  val peakTaskMem = new LongAccumulator(math.max(_, _), 0L)
  /** Bytes of RDD blocks stored now, and the most since the last reset. */
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private val storedNow = new AtomicLong
  val storedPeak = new LongAccumulator(math.max(_, _), 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      peakTaskMem.accumulate(m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = Option(blockBytes.put(id, size)).map(_.longValue).getOrElse(0L)
      if (size > 0 && before == 0) blocks.incrementAndGet()
      if (size == 0) blockBytes.remove(id)
      storedPeak.accumulate(storedNow.addAndGet(size - before))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planNs.addAndGet(Counters.planningNs(qe))
    scanBytes.addAndGet(Counters.scannedBytes(qe))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planNs.addAndGet(Counters.planningNs(qe))

  def resetStoredPeak(): Unit = { storedPeak.reset(); storedPeak.accumulate(storedNow.get) }

  def snapshot(): Counters.Snap = Counters.Snap(jobs.get, stages.get, tasks.get,
    cpuNs.get, gcMs.get, shuffleWrite.get, spill.get, scanBytes.get, planNs.get,
    blocks.get)
}

object Counters extends AdaptiveSparkPlanHelper {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, spill: Long, scanBytes: Long,
      planNs: Long, blocks: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, cpuNs - o.cpuNs, gcMs - o.gcMs,
      shuffleWrite - o.shuffleWrite, spill - o.spill, scanBytes - o.scanBytes,
      planNs - o.planNs, blocks - o.blocks)
  }

  /** Analysis, optimization and physical planning time of one query. */
  def planningNs(qe: QueryExecution): Long = {
    val p = qe.tracker.phases
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(p.get).map(_.durationMs * 1000000L).sum
  }

  /** Bytes of the parquet files the query's scans read. The tasks'
    * `inputMetrics.bytesRead` is not used: for local parquet files it
    * counts only a few KB of footer reads.
    */
  def scannedBytes(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case scan: FileSourceScanExec => scan.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum

  /** Register a fresh set of counters on the session; planning time is
    * collected only when tracing.
    */
  def attach(spark: SparkSession, trace: Boolean): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    if (trace) spark.listenerManager.register(c)
    c
  }

  /** Wait until the listener bus has delivered every posted event.
    * `LiveListenerBus.waitUntilEmpty` is private to Spark, so it is
    * reached by reflection (the pattern `graft.tools.PlanLint` uses).
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }
}
