package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec

/** A span the benchmark recorded around one call into the program. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A Spark job the tracer saw: its span, call site and SQL execution. */
final case class Job(id: Int, span: String, callSite: String, execution: Long,
                     startMs: Long, var endMs: Long, stageIds: Seq[Int])

/** Task metrics summed over a set of stages. */
final case class Totals(runS: Double = 0, cpuS: Double = 0, gcS: Double = 0,
                        shuffleRead: Long = 0, shuffleWrite: Long = 0,
                        spill: Long = 0, peakMem: Long = 0,
                        inputBytes: Long = 0, inputRows: Long = 0,
                        outputBytes: Long = 0, outputRows: Long = 0,
                        jobs: Int = 0, stages: Int = 0, tasks: Long = 0)

/** Executed-plan node counts summed over a set of actions. */
final case class Census(exchanges: Int = 0, broadcasts: Int = 0, sortMergeJoins: Int = 0,
                        windows: Int = 0, inMemoryScans: Int = 0, codegenFallbacks: Int = 0) {
  def +(o: Census): Census = Census(exchanges + o.exchanges, broadcasts + o.broadcasts,
    sortMergeJoins + o.sortMergeJoins, windows + o.windows,
    inMemoryScans + o.inMemoryScans, codegenFallbacks + o.codegenFallbacks)
}

/** Records spans around the benchmark's calls into the program and,
  * while attached, the Spark jobs, stage task metrics and executed
  * plans those calls produce, from outside the program:
  *  - every job carries the enclosing span's name as a local property,
  *    and is attributed to the call site (`count at Protocol.scala:77`)
  *    of the program action that launched it: its SQL execution's
  *    description, or else its result stage's name;
  *  - each finished SQL execution's executed plan gets a census,
  *    attributed to the span through its jobs' SQL execution id.
  * Spans are kept in memory and written out with the run record.
  * While detached, [[span]] only runs its body. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spanStack = mutable.ArrayBuffer[String]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageMetrics = mutable.HashMap[Int, Totals]()
  private val plans = mutable.HashMap[Long, Census]()
  private val executionCallSites = mutable.HashMap[Long, String]()
  private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val execution = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      val callSite = executionCallSites.getOrElse(execution,
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs(e.jobId) = Job(e.jobId, prop(SpanKey).getOrElse(""), callSite, execution,
        e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stageMetrics(i.stageId) = Totals(
        runS = m.executorRunTime / 1e3, cpuS = m.executorCpuTime / 1e9, gcS = m.jvmGCTime / 1e3,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.diskBytesSpilled, peakMem = m.peakExecutionMemory,
        inputBytes = m.inputMetrics.bytesRead, inputRows = m.inputMetrics.recordsRead,
        outputBytes = m.outputMetrics.bytesWritten, outputRows = m.outputMetrics.recordsWritten,
        stages = 1, tasks = i.numTasks.toLong)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case start: SparkListenerSQLExecutionStart =>
        jobs.synchronized { executionCallSites(start.executionId) = start.description }
      case end: SparkListenerSQLExecutionEnd =>
        SparkInternals.executedPlan(end).foreach(p => jobs.synchronized { plans(end.executionId) = Tracer.census(p) })
      case _ =>
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(listener)
    attached = false
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = if (attached) SparkInternals.drain(sc)

  /** Runs `body` as the span `name`, nested in the current span. */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val parent = spanStack.lastOption.getOrElse("")
      val full = if (parent.isEmpty) name else parent + "/" + name
      spanStack += full
      sc.setLocalProperty(SpanKey, full)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(full, parent, t0, System.nanoTime())
        spanStack.remove(spanStack.size - 1)
        sc.setLocalProperty(SpanKey, if (parent.isEmpty) null else parent)
      }
    }

  /** Jobs whose span is `prefix` or nested in it. */
  def jobsUnder(prefix: String): Seq[Job] = jobs.synchronized {
    jobs.values.filter(j => j.span == prefix || j.span.startsWith(prefix + "/")).toSeq
  }

  def allJobs: Seq[Job] = jobs.synchronized(jobs.values.toSeq)

  def totals(js: Seq[Job]): Totals = jobs.synchronized {
    val stageIds = js.flatMap(_.stageIds).distinct
    val ms = stageIds.flatMap(stageMetrics.get)
    Totals(
      runS = ms.map(_.runS).sum, cpuS = ms.map(_.cpuS).sum, gcS = ms.map(_.gcS).sum,
      shuffleRead = ms.map(_.shuffleRead).sum, shuffleWrite = ms.map(_.shuffleWrite).sum,
      spill = ms.map(_.spill).sum, peakMem = if (ms.isEmpty) 0L else ms.map(_.peakMem).max,
      inputBytes = ms.map(_.inputBytes).sum, inputRows = ms.map(_.inputRows).sum,
      outputBytes = ms.map(_.outputBytes).sum, outputRows = ms.map(_.outputRows).sum,
      jobs = js.size, stages = ms.size, tasks = ms.map(_.tasks).sum)
  }

  /** Plan census of the actions that launched `js`. */
  def census(js: Seq[Job]): Census = jobs.synchronized {
    js.map(_.execution).filter(_ >= 0).distinct.flatMap(plans.get)
      .foldLeft(Census())(_ + _)
  }

  /** SQL executions with a plan census but no job in any span: counted
    * in the run record so that lost attribution shows. */
  def unattributedPlans: Int = jobs.synchronized {
    val seen = jobs.values.map(_.execution).toSet
    plans.keys.count(k => !seen(k))
  }

  def spanSeconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val CallSiteFile = """ at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r

  /** The program file named by a job's call site. */
  def callSiteFile(callSite: String): String =
    CallSiteFile.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("unknown")

  /** Counts plan nodes of the final (post-AQE) plan, subqueries included. */
  def census(plan: SparkPlan): Census = {
    var c = Census()
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        p match {
          case _: BroadcastExchangeLike => c = c.copy(broadcasts = c.broadcasts + 1)
          case _: ShuffleExchangeLike => c = c.copy(exchanges = c.exchanges + 1)
          case _: SortMergeJoinExec => c = c.copy(sortMergeJoins = c.sortMergeJoins + 1)
          case _: WindowExec => c = c.copy(windows = c.windows + 1)
          case _: InMemoryTableScanExec => c = c.copy(inMemoryScans = c.inMemoryScans + 1)
          case _ =>
        }
        val fallbacks = p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        if (fallbacks > 0) c = c.copy(codegenFallbacks = c.codegenFallbacks + fallbacks)
        p.children.foreach(visit)
        p.subqueries.foreach(visit)
    }
    visit(plan)
    c
  }
}
