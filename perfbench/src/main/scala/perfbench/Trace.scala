package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters collected from outside the program: a SparkListener for
  * jobs, stages and tasks, and a QueryExecutionListener that reads plan
  * facts off each executed (final AQE) plan. Each benchmark operation
  * runs under its own job tag, so every job, and through its stages
  * every task, is scoped to the operation that caused it.
  *
  * Registered only in traced runs, at session start, so it records the
  * whole run; readers keep what belongs to the measured pass by job tag
  * and execution start time (`Layers.View`), after the listener bus has
  * drained.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private var handlerNs = 0L

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  // Plan facts of the execution whose end event is being delivered: the
  // session's QueryExecutionListener bus sits ahead of this listener on
  // the same queue, so onSuccess/onFailure for an execution run just
  // before onOtherEvent sees that execution's end.
  private var pending: Option[PlanRec] = None

  def handlerSeconds: Double = synchronized(handlerNs / 1e9)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val callSite = e.stageInfos.headOption.map(_.details).getOrElse("")
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = JobRec(e.jobId, tags, exec, callSite)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    val run = g(_.executorRunTime)
    val overhead = g(_.executorDeserializeTime) + g(_.resultSerializationTime) +
      (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
    tasks += TaskRec(
      job = stageJob.getOrElse(e.stageId, -1),
      launch = info.launchTime, finish = info.finishTime,
      runMs = run, cpuNs = g(_.executorCpuTime),
      schedDelayMs = math.max(0L, info.finishTime - info.launchTime - run - overhead),
      bytesRead = g(_.inputMetrics.bytesRead),
      recordsRead = g(_.inputMetrics.recordsRead),
      shuffleWrite = g(_.shuffleWriteMetrics.bytesWritten),
      fetchWaitMs = g(_.shuffleReadMetrics.fetchWaitTime),
      spill = g(_.memoryBytesSpilled) + g(_.diskBytesSpilled),
      bytesWritten = g(_.outputMetrics.bytesWritten),
      recordsWritten = g(_.outputMetrics.recordsWritten),
      failed = e.reason != Success)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      execs(s.executionId) = ExecRec(s.executionId, s.details, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => timed {
      execs.get(s.executionId).foreach(_.facts = pending)
      pending = None
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed { pending = Some(planFacts(qe)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    timed { pending = Some(planFacts(qe)) }
}

object Trace {
  final case class JobRec(id: Int, tags: Set[String], exec: Option[Long],
      callSite: String)
  final case class TaskRec(job: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, schedDelayMs: Long, bytesRead: Long, recordsRead: Long,
      shuffleWrite: Long, fetchWaitMs: Long, spill: Long, bytesWritten: Long,
      recordsWritten: Long, failed: Boolean)
  final case class StageRec(id: Int, job: Int, numTasks: Int, submit: Long,
      complete: Long)
  final case class ExecRec(id: Long, details: String, start: Long) {
    var facts: Option[PlanRec] = None
  }
  final case class PlanRec(scans: Int, exchanges: Int,
      windowsUnpartitioned: Int, cartesians: Int, cartesianRows: Long,
      checkpointReads: Int, files: Long, planMs: Long, outputPath: Option[String])

  /** Registers the QueryExecutionListener first: that creates the
    * session's listener bus ahead of this SparkListener on the shared
    * queue, which the pairing of plan facts with end events relies on.
    */
  def register(spark: SparkSession): Trace = {
    val t = new Trace
    spark.listenerManager.register(t)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Every node of the executed plan, each once: the final AQE plan of
    * each adaptive subtree, the exchange inside each query stage, the
    * command's physical plan, and subquery plans. A reused exchange is
    * one node, never its producer a second time.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def planFacts(qe: QueryExecution): PlanRec = {
    val ns = nodes(qe.executedPlan)
    def metric(n: SparkPlan, k: String): Long = n.metrics.get(k).map(_.value).getOrElse(0L)
    val cartesian = ns.filter {
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    val out = ns.collectFirst {
      case w: DataWritingCommandExec => w.cmd
    }.collect { case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString }
    PlanRec(
      scans = ns.count {
        case _: FileSourceScanLike | _: BatchScanExec => true
        case _ => false
      },
      exchanges = ns.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      windowsUnpartitioned = ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      cartesians = cartesian.size,
      cartesianRows = cartesian.map(metric(_, "numOutputRows")).sum,
      checkpointReads = ns.count(_.isInstanceOf[RDDScanExec]),
      files = ns.map(metric(_, "numFiles")).sum,
      planMs = qe.tracker.phases.values.map(s => s.endTimeMs - s.startTimeMs).sum,
      outputPath = out)
  }

  /** Length of the union of the intervals, clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
