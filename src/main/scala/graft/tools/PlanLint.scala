package graft.tools

import scala.annotation.tailrec

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Plan lint (round 9; extended round 10 per the r9 verdict, item 4):
  * walk every declared query's physical plan and fail on the
  * scale-killer shapes —
  *
  *   - `window1p`: a `WindowExec` fed by an `Exchange SinglePartition`
  *     — the one-task global sort/window that melts at fact scale —
  *     unless the exchange's input is already limit-bounded (a partial
  *     `WindowGroupLimitExec`, a limit, or a `TakeOrderedAndProject`
  *     sits below it, so the one partition sees ≤ k·P rows).
  *   - `xjoin` (round 10): a `CartesianProductExec` or
  *     `BroadcastNestedLoopJoinExec` where NEITHER side is structurally
  *     bounded below (a limit/top-k/group-limit, a zero-grouping
  *     aggregate, or literal local data at its top) — the all-pairs
  *     blow-up that turns 10⁸×10⁸ rows into 10¹⁶ comparisons.
  *   - `windowconst` (round 13, r12 verdict item 2): a `WindowExec`
  *     whose partition key is PROVABLY constant-cardinality (literal,
  *     calendar truncation, fixture enum column, mod-by-literal) over a
  *     row-scaled input and not rescued by a `WindowGroupLimitExec` —
  *     the k-task sibling of window1p (k = the key's 2-25 values), the
  *     class the r12 verdict found six instances of.
  *   - `globalsort` (round 10): a global `SortExec` (range-partitioned
  *     total order) whose result feeds FURTHER computation with no
  *     limit above it — the next shuffle destroys the order, so the
  *     sort is pure wasted cost at scale; rank-by-sort patterns belong
  *     on `Pipelines.exactGlobalRank`. A final presentation sort (only
  *     pass-through nodes above it) is fine and expected: every
  *     declared query ends in a total ORDER BY for the oracle compare.
  *
  * A hit is either fixed or waived in tools/plan_lint_waivers.txt with
  * a justification citing the input's structural bound (calendar
  * days/months/hours, a ≤k-row dim, a vocab cap, ...). Waivers are
  * RULE-SCOPED (`<query>:<rule>`), so excusing a bounded window can
  * never silently excuse a new cartesian join in the same query, and
  * stale waivers fail the lint so each line dies with the plan shape
  * it excuses.
  *
  * The lint plans (does not execute) each query at the given fixture,
  * so it costs seconds; wired into tools/round_gate.sh step 2.
  *
  * Usage: `java -cp … graft.tools.PlanLint [sfDir] [waiversFile]`
  * Exit 1 on any unwaived hit or stale waiver.
  */
object PlanLint {

  /** The first shuffle exchange feeding `p`, looking through the
    * sort/project/filter chain a window sits on.
    */
  private def feedingExchange(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
    case e: ShuffleExchangeExec => Some(e)
    case s: SortExec => feedingExchange(s.child)
    case pr: ProjectExec => feedingExchange(pr.child)
    case f: FilterExec => feedingExchange(f.child)
    case w: WindowExec => feedingExchange(w.child)
    case w: WindowGroupLimitExec => feedingExchange(w.child)
    // EXECUTED plans (captured checkpoint actions) carry per-stage
    // codegen wrappers that planned-only trees lack (r11)
    case w: WholeStageCodegenExec => feedingExchange(w.child)
    case i: InputAdapter => feedingExchange(i.child)
    case _ => None
  }

  /** Is the subtree below the exchange already bounded to O(k·P) rows
    * by a group-limit / limit / top-k operator?
    */
  private def limitBoundedBelow(p: SparkPlan): Boolean =
    p.collectFirst {
      case _: WindowGroupLimitExec => ()
      case _: BaseLimitExec => ()
      case _: TakeOrderedAndProjectExec => ()
    }.isDefined

  /** Strip row-count-preserving (or -reducing) wrappers off the top of
    * a subtree: what remains is the node that determines the side's
    * cardinality class.
    */
  @tailrec
  private def stripPassThrough(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => stripPassThrough(w.child)
    case i: InputAdapter => stripPassThrough(i.child)
    case pr: ProjectExec => stripPassThrough(pr.child)
    case f: FilterExec => stripPassThrough(f.child)
    case s: SortExec => stripPassThrough(s.child)
    case e: ShuffleExchangeExec => stripPassThrough(e.child)
    case b: BroadcastExchangeExec => stripPassThrough(b.child)
    case c: CoalesceExec => stripPassThrough(c.child)
    case a: AQEShuffleReadExec => stripPassThrough(a.child)
    case other => other
  }

  /** A join side is structurally bounded when its top (through
    * pass-through nodes) is a limit/top-k, a zero-grouping aggregate
    * (exactly 1 row), or literal local data. A keyed aggregate is NOT
    * accepted — its cardinality is its key domain's, which only a
    * human can certify (waiver).
    */
  private def sideBounded(p: SparkPlan): Boolean = stripPassThrough(p) match {
    case _: BaseLimitExec | _: TakeOrderedAndProjectExec | _: WindowGroupLimitExec => true
    case _: LocalTableScanExec => true
    // literal row count fixed at plan time (s.range(...) grids)
    case _: RangeExec => true
    case a: HashAggregateExec => a.groupingExpressions.isEmpty
    case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
    case a: SortAggregateExec => a.groupingExpressions.isEmpty
    case _ => false
  }

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Inline AQE's leaf wrappers so the rules can see through them.
    * A PLANNED query's tree is plain Exchange/Sort/Window nodes — but a
    * captured EXECUTED plan (a checkpoint action) has materialized
    * `QueryStageExec` leaves whose sub-plans `collect` never enters, so
    * an offending window below the first shuffle would be invisible.
    * Recursion handles nested stages; `ReusedExchangeExec` re-inlines
    * the original exchange (dedup keeps a reused offender to one hit).
    */
  private def expandStages(p: SparkPlan): SparkPlan = p.transformUp {
    case a: AdaptiveSparkPlanExec => expandStages(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      expandStages(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      expandStages(r.child)
  }

  /** Nodes that may sit ABOVE a final presentation sort without making
    * it "feed computation": projections, codegen plumbing, and row
    * emission. Anything else consuming a global sort's output means
    * the total order is being used (or destroyed) downstream.
    */
  private def presentationOnly(ancestors: List[SparkPlan]): Boolean =
    ancestors.forall {
      case _: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter |
          _: CoalesceExec => true
      case _ => false
    }

  private def limitAbove(ancestors: List[SparkPlan]): Boolean =
    ancestors.exists {
      case _: BaseLimitExec | _: CollectLimitExec |
          _: TakeOrderedAndProjectExec | _: WindowGroupLimitExec => true
      case _ => false
    }

  // ---------------------------------------------------------------
  // windowconst (round 13, VERDICT r12 item 2): a WindowExec whose
  // partition key is PROVABLY constant-cardinality (literal, calendar
  // truncation, a known fixture enum column, a mod-by-literal) over a
  // row-scaled input. PlanLint's window1p rule keys on a
  // SinglePartition exchange, so a window partitioned by a 2-25-value
  // column sailed through — yet `Window.partitionBy("hop")` over all
  // converting users is two tasks each sorting half the corpus (the
  // r7/r8 single-partition class with k tasks instead of 1; r12 proved
  // it recurs: the brand-new funnel twin finisher copied the shape).
  // WindowGroupLimit below rescues `rn <= k` sites (per-group heaps,
  // no full sort materialization), so those don't flag. Waivers cite
  // the input's structural bound (vocab cap, ≤k-row dim, calendar).
  // ---------------------------------------------------------------

  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CaseWhen, Cast, Expression, If, Literal, NamedExpression, Pmod, Remainder}

  /** Fixture columns whose value domain is a fixed enum — bounded no
    * matter how many rows carry them. The lint lints THIS repo's
    * declared queries against THIS repo's fixture schemas (TESTDATA.md),
    * so a fixture-keyed list is sound; extend it when a fixture gains an
    * enum column.
    */
  private val enumCols = Set(
    "o_orderpriority", "o_orderstatus", "l_returnflag", "l_linestatus",
    "lang", "label", "event_type")

  /** Resolve an attribute (by exprId) to its defining expression(s),
    * walking down through projections, unions (positional), aggregates
    * (result aliases), and single-child pass-through nodes. Base-scan
    * columns resolve to themselves.
    */
  private def resolveAttr(attr: Attribute, p: SparkPlan): Seq[Expression] = p match {
    case pr: ProjectExec =>
      pr.projectList.find(_.exprId == attr.exprId) match {
        case Some(a: Alias) => a.child match {
          case c: Attribute => resolveAttr(c, pr.child)
          case e => Seq(e)
        }
        case _ => resolveAttr(attr, pr.child)
      }
    case u: UnionExec =>
      val i = u.output.indexWhere(_.exprId == attr.exprId)
      if (i < 0) Seq(attr)
      else u.children.flatMap { c =>
        c.output.lift(i).toSeq.flatMap(ca => resolveAttr(ca, c))
      }
    case a: HashAggregateExec => resolveThroughNamed(attr, a.resultExpressions, a.child)
    case a: ObjectHashAggregateExec => resolveThroughNamed(attr, a.resultExpressions, a.child)
    case a: SortAggregateExec => resolveThroughNamed(attr, a.resultExpressions, a.child)
    case other if other.children.size == 1 => resolveAttr(attr, other.children.head)
    case _ => Seq(attr)
  }

  private def resolveThroughNamed(attr: Attribute, named: Seq[NamedExpression],
      child: SparkPlan): Seq[Expression] =
    named.find(_.exprId == attr.exprId) match {
      case Some(a: Alias) => a.child match {
        case c: Attribute => resolveAttr(c, child)
        case e => Seq(e)
      }
      case _ => resolveAttr(attr, child)
    }

  /** Is this expression's value domain provably constant-cardinality
    * (independent of row count)? `plan` is the subtree below the node
    * that evaluates it, for attribute resolution.
    */
  private def boundedKey(e: Expression, plan: SparkPlan): Boolean = e match {
    case _: Literal => true
    case a: Alias => boundedKey(a.child, plan)
    case c: Cast => boundedKey(c.child, plan)
    case a: Attribute =>
      resolveAttr(a, plan).forall {
        case base: Attribute => enumCols(base.name)
        case other => boundedShape(other)
      }
    case other => boundedShape(other)
  }

  /** Shape-only boundedness (no attribute resolution): calendar
    * truncations (bounded by the data's TIME span, which the verdict
    * counts as constant vs row count — a month key caps parallelism at
    * the month count), literal-output conditionals, mod-by-literal.
    */
  private def boundedShape(e: Expression): Boolean = e match {
    case _: Literal => true
    case c: Cast => boundedShape(c.child)
    case a: Alias => boundedShape(a.child)
    case cw: CaseWhen =>
      (cw.branches.map(_._2) ++ cw.elseValue).forall(boundedShape)
    case i: If => boundedShape(i.trueValue) && boundedShape(i.falseValue)
    case Pmod(_, _: Literal, _) => true
    case Remainder(_, _: Literal, _) => true
    case other =>
      val calendar = Set("TruncDate", "TruncTimestamp", "Year", "Month",
        "Quarter", "DayOfWeek", "WeekDay", "DayOfMonth", "DayOfYear",
        "WeekOfYear", "Hour", "Minute", "Second", "MonthName", "DayName")
      calendar(other.getClass.getSimpleName)
  }

  /** Does the window's input scale with row count? Aggregates whose
    * EVERY grouping key is bounded produce bounded output (a window
    * over ≤k rows is fine); limits/top-k/group-limits and literal local
    * data are bounded; anything else (scans, joins, generators, keyed
    * aggregates on row-scaled keys) is row-scaled.
    */
  private def inputRowScaled(p: SparkPlan): Boolean = p match {
    case _: BaseLimitExec | _: TakeOrderedAndProjectExec |
        _: WindowGroupLimitExec | _: LocalTableScanExec | _: RangeExec => false
    case a: HashAggregateExec =>
      a.groupingExpressions.nonEmpty &&
        !a.groupingExpressions.forall(g => boundedKey(g, a.child))
    case a: ObjectHashAggregateExec =>
      a.groupingExpressions.nonEmpty &&
        !a.groupingExpressions.forall(g => boundedKey(g, a.child))
    case a: SortAggregateExec =>
      a.groupingExpressions.nonEmpty &&
        !a.groupingExpressions.forall(g => boundedKey(g, a.child))
    case u: UnionExec => u.children.exists(inputRowScaled)
    case pr: ProjectExec => inputRowScaled(pr.child)
    case f: FilterExec => inputRowScaled(f.child)
    case s: SortExec => inputRowScaled(s.child)
    case e: ShuffleExchangeExec => inputRowScaled(e.child)
    case b: BroadcastExchangeExec => inputRowScaled(b.child)
    case c: CoalesceExec => inputRowScaled(c.child)
    case a: AQEShuffleReadExec => inputRowScaled(a.child)
    case w: WholeStageCodegenExec => inputRowScaled(w.child)
    case i: InputAdapter => inputRowScaled(i.child)
    case w: WindowExec => inputRowScaled(w.child)
    case _ => true
  }

  /** All offending nodes in one query's plan as (rule, description)
    * pairs (empty = clean). Round 11: also walks subquery plans
    * (`subqueriesAll`) — a scalar/IN-subquery's global sort or
    * cartesian join was previously invisible because the rules only
    * traversed children.
    */
  def offenders(plan: SparkPlan): Seq[(String, String)] = {
    val top = expandStages(unwrap(plan))
    (top +: top.subqueriesAll.map(p => expandStages(unwrap(p))))
      .distinct.flatMap(offendersOne)
  }

  private def offendersOne(root: SparkPlan): Seq[(String, String)] = {

    val window1p = root.collect {
      case w: WindowExec =>
        feedingExchange(w.child) match {
          case Some(e) if e.outputPartitioning == SinglePartition
              && !limitBoundedBelow(e.child) =>
            Some("window1p" ->
              s"Window[${w.windowExpression.map(_.sql).mkString(", ").take(120)}] over Exchange SinglePartition")
          case _ => None
        }
    }.flatten

    // windowconst (r13): constant-cardinality partition key over a
    // row-scaled input, not rescued by a group limit below. The
    // partition key set must be NON-EMPTY (empty = window1p's beat) and
    // EVERY key provably bounded — one row-scaled key spreads the sort.
    val windowconst = root.collect {
      case w: WindowExec
          if w.partitionSpec.nonEmpty
            && w.partitionSpec.forall(e => boundedKey(e, w.child))
            && !limitBoundedBelow(w.child)
            && inputRowScaled(w.child) =>
        "windowconst" ->
          s"Window[${w.windowExpression.map(_.sql).mkString(", ").take(100)}] partitioned by constant-cardinality key [${w.partitionSpec.map(_.sql).mkString(", ").take(80)}] over row-scaled input"
    }

    val xjoin = root.collect {
      case j: CartesianProductExec
          if !sideBounded(j.left) && !sideBounded(j.right) =>
        "xjoin" -> s"CartesianProduct with no bounded side (cond=${j.condition.map(_.sql).getOrElse("none").take(80)})"
      case j: BroadcastNestedLoopJoinExec
          if !sideBounded(j.left) && !sideBounded(j.right) =>
        "xjoin" -> s"BroadcastNestedLoopJoin[${j.joinType}] with no bounded side (cond=${j.condition.map(_.sql).getOrElse("none").take(80)})"
    }

    // Global sorts feeding non-final consumers: walk with ancestors.
    def walk(p: SparkPlan, ancestors: List[SparkPlan]): Seq[(String, String)] = {
      val here = p match {
        case s: SortExec if s.global
            && !presentationOnly(ancestors) && !limitAbove(ancestors) =>
          val consumer = ancestors.find {
            case _: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter => false
            case _ => true
          }.map(_.nodeName).getOrElse("?")
          Seq("globalsort" ->
            s"global Sort[${s.sortOrder.map(_.sql).mkString(", ").take(80)}] feeding $consumer without a limit")
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(c => walk(c, p :: ancestors))
    }
    val globalsort = walk(root, Nil)

    window1p ++ windowconst ++ xjoin ++ globalsort
  }

  /** Round 11: the localCheckpoint blind spot. An eager
    * `df.localCheckpoint()` EXECUTES its sub-plan at Q-construction
    * time and hands the rest of the query a materialized scan — so the
    * final plan the lint walks never contains the checkpointed
    * sub-plan, and a single-partition window hidden below a checkpoint
    * (the r10-verdict q_graph_21/22 shape) reports 0 hits. Every
    * Dataset action — localCheckpoint included — fires
    * `QueryExecutionListener.onSuccess` with its own QueryExecution,
    * so a capturing listener sees exactly the plans the final plan
    * hides, with no change to the 200+ checkpoint call sites.
    *
    * Delivery is async (the shared listener bus), so each query's
    * drain first waits for bus quiescence via
    * `LiveListenerBus.waitUntilEmpty` (private[spark] ⇒ public in
    * bytecode ⇒ reachable by reflection).
    */
  // Per-instance queue (r11 ADVICE): two concurrent offendersWithActions
  // calls on one JVM (parallel test execution) each drain only their own
  // listener's captures instead of cross-attributing via a global queue.
  private final class CapturingListener
      extends org.apache.spark.sql.util.QueryExecutionListener {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      captured.add(funcName -> qe.executedPlan)
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  private def waitForListenerBus(spark: org.apache.spark.sql.SparkSession): Unit = {
    // Reflects into private[spark] SparkContext.listenerBus /
    // LiveListenerBus.waitUntilEmpty(long) — pinned to the Spark this
    // repo builds against. If an upgrade renames either, fall back to a
    // short sleep (r11 ADVICE): capture becomes best-effort-but-sound
    // (a missed late delivery can only UNDER-report action hits for
    // that run, never crash every lint run).
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(60000L))
    } catch {
      case _: NoSuchMethodException | _: IllegalAccessException |
           _: java.lang.reflect.InvocationTargetException =>
        Thread.sleep(2000L)
    }
  }

  /** Lint one query INCLUDING the plans of any actions (checkpoints,
    * counts, collects) it executes while being constructed. Returns
    * deduplicated (rule, description) hits; descriptions of hits found
    * only in an action's plan are tagged with the action name.
    */
  def offendersWithActions(spark: org.apache.spark.sql.SparkSession,
      build: => org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    val listener = new CapturingListener
    spark.listenerManager.register(listener)
    try {
      val finalHits = offenders(build.queryExecution.executedPlan)
      waitForListenerBus(spark)
      val actionHits = Iterator.continually(listener.captured.poll()).takeWhile(_ != null)
        .flatMap { case (fn, p) =>
          offenders(p).map { case (rule, desc) => rule -> s"[in $fn action] $desc" }
        }.toSeq
      (finalHits ++ actionHits).distinct
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val waiversFile = args.lift(1).getOrElse("tools/plan_lint_waivers.txt")
    // waiver key: "<query>:<rule>"; a bare "<query>" line is accepted as
    // "<query>:window1p" for continuity with the round-9 file format.
    val waivers: Map[String, String] = {
      val f = new java.io.File(waiversFile)
      if (!f.exists()) Map.empty
      else scala.io.Source.fromFile(f, "UTF-8").getLines()
        .filterNot(l => l.trim.isEmpty || l.startsWith("#"))
        .map { l =>
          val Array(n, why) = l.split("\t", 2)
          (if (n.contains(":")) n else s"$n:window1p") -> why
        }
        .toMap
    }
    val spark = LocalSession()
    var unwaived = List.empty[(String, Seq[String])]
    var waivedHits = Set.empty[String]
    var planned = 0
    for (q <- graft.Registry.all) {
      val hits =
        try offendersWithActions(spark, q.fn(spark, sfDir))
        catch { case e: Throwable =>
          Seq("planning" -> s"PLANNING FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      planned += 1
      for ((rule, desc) <- hits) {
        val key = s"${q.name}:$rule"
        if (waivers.contains(key)) waivedHits += key
        else unwaived ::= (key, Seq(desc))
      }
    }
    val stale = waivers.keySet -- waivedHits
    println(s"PLANLINT: $planned queries planned, ${unwaived.size} unwaived hit(s), " +
      s"${waivedHits.size} waived, ${stale.size} stale waiver(s)")
    for ((n, hs) <- unwaived.sortBy(_._1); h <- hs)
      println(s"  FAIL $n: $h")
    for (n <- stale.toSeq.sorted)
      println(s"  STALE WAIVER $n: no longer trips the lint — delete its line")
    spark.stop()
    if (unwaived.nonEmpty || stale.nonEmpty) sys.exit(1)
  }
}
