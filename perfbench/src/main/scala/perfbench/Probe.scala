package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of one attribution key (an operation phase, e.g. one catalog
  * entry's construction). */
final class Counts {
  val n: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit = n(k) = n.getOrElse(k, 0.0) + v
  def apply(k: String): Double = n.getOrElse(k, 0.0)
}

/** Spark's own listeners, registered from outside the program: job,
  * stage and task counts and metrics (`SparkListener`), Catalyst phase
  * times and executed-plan shapes (`QueryExecutionListener`). Every
  * event is charged to the key set by [[charge]]; the caller drains the
  * listener bus before it changes the key. */
final class Probe(spark: SparkSession, trace: Trace) {
  @volatile private var key: String = "untimed"
  @volatile private var parentSpan: Int = 0
  val byKey: mutable.LinkedHashMap[String, Counts] = mutable.LinkedHashMap()
  /** (launch, finish) wall-clock ms of every timed task. */
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()
  private val jobs = mutable.HashMap[Int, (Int, Long)]()

  private def counts: Counts = synchronized(byKey.getOrElseUpdate(key, new Counts))

  /** Drains pending events, then charges later events to `k`. */
  def charge(k: String): Unit = {
    drain()
    key = k
    parentSpan = trace.current
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = (e.stageInfos.map(_.numTasks).sum, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val c = counts
      c.add("exec.jobs", 1)
      synchronized(jobs.remove(e.jobId)).foreach { case (tasks, start) =>
        if (tasks == 1) c.add("exec.single_task_jobs", 1)
        trace.addMs(s"job ${e.jobId}", "exec", parentSpan, start, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counts.add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counts
      c.add("exec.tasks", 1)
      if (e.reason != org.apache.spark.Success) c.add("exec.failed_tasks", 1)
      val info = e.taskInfo
      synchronized { taskIntervals += ((info.launchTime, info.finishTime)) }
      val m = e.taskMetrics
      if (m != null) {
        c.add("exec.task_run_s", m.executorRunTime / 1e3)
        c.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1e3)
        c.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("exec.input_records", m.inputMetrics.recordsRead.toDouble)
        c.add("exec.shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        c.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        c.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val c = counts
    c.add("catalyst.queries", 1)
    val parent = parentSpan
    qe.tracker.phases.foreach { case (phase, p) =>
      val name = phase match {
        case "analysis" => "catalyst.analysis_s"
        case "optimization" => "catalyst.optimization_s"
        case "planning" => "catalyst.planning_s"
        case other => s"catalyst.${other}_s"
      }
      c.add(name, p.durationMs / 1e3)
      trace.addMs(phase, "catalyst", parent, p.startTimeMs, p.endTimeMs)
    }
    Probe.planShape(qe.executedPlan).foreach { case (k, v) => c.add(k, v) }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager.register(qeListener)

  /** Totals over every key that starts with `prefix`. */
  def total(prefix: String): Counts = synchronized {
    val t = new Counts
    byKey.foreach { case (k, c) => if (k.startsWith(prefix)) c.n.foreach { case (m, v) => t.add(m, v) } }
    t
  }

  /** Wall seconds within [fromMs, toMs] with no task running. */
  def noTaskSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = taskIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var reach = fromMs
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) busy += b - from
      reach = math.max(reach, b)
    }
    (toMs - fromMs - busy) / 1e3
  }
}

object Probe {
  val PlanKeys: Seq[String] = Seq("plan.exchanges", "plan.smj", "plan.shj", "plan.bhj",
    "plan.bnlj", "plan.cartesian", "plan.windows", "plan.sorts", "plan.take_ordered")

  private object Helper extends AdaptiveSparkPlanHelper

  /** Exact operator counts of an executed plan, adaptive stages and
    * subqueries included. */
  def planShape(plan: SparkPlan): Map[String, Double] = {
    val kinds = Helper.collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => "plan.exchanges"
      case _: SortMergeJoinExec => "plan.smj"
      case _: ShuffledHashJoinExec => "plan.shj"
      case _: BroadcastHashJoinExec => "plan.bhj"
      case _: BroadcastNestedLoopJoinExec => "plan.bnlj"
      case _: CartesianProductExec => "plan.cartesian"
      case _: WindowExec => "plan.windows"
      case _: SortExec => "plan.sorts"
      case _: TakeOrderedAndProjectExec => "plan.take_ordered"
    }
    PlanKeys.map(k => k -> kinds.count(_ == k).toDouble).toMap
  }
}
