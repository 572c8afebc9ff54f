package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced pass, computed from the trace's jobs,
  * stages, tasks, SQL executions and plan facts, scoped to the spans of
  * that pass by job tag (jobs, tasks) or by execution start time (plans).
  */
object Layers {
  import Trace._

  /** Every per-layer metric, in report order; a run reports 0 for the
    * layers its workload does not exercise.
    */
  val All: Seq[String] =
    Dashboard.Stages.flatMap { case (s, ts) => ts.map(t => s"$s.$t.s") } ++ Seq("staging.rows_in", "staging.rows_dropped",
    "dq.s", "dq.jobs", "elt.driver_s", "elt.unattributed_jobs", "elt.remainder_s") ++
    Dashboard.Views.map(v => s"views.$v.s") ++ Seq("views.cartesian_rows") ++
    Registry.Modules.map(m => s"registry.$m.s") ++
    Seq("registry.query_p50_s", "registry.query_p90_s") ++ Seq(
      "spark.driver_s", "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
      "spark.scheduler_delay_s", "spark.executor_run_s", "spark.executor_cpu_s",
      "spark.gc_s", "spark.serial_stage_s", "spark.failed_tasks",
      "spark.scan_bytes", "spark.shuffle_write_bytes", "spark.fetch_wait_s",
      "spark.spill_bytes", "spark.output_bytes", "spark.output_files",
      "spark.pinned_mb", "plan.checkpoints", "plan.scans", "plan.exchanges",
      "plan.windows_unpartitioned", "plan.cartesians",
      "trace.pass_s", "trace.handler_s")

  private val PathRe = """/(staging|warehouse|analytics)/([a-z_]+)""".r
  private val FrameRe = """graft\.pipeline\.(\w+)\$?\.([\w$]+)""".r

  /** Pipeline stage of a call site: the first `graft.pipeline` frame. */
  def stageOfCallSite(callSite: String): Option[String] =
    FrameRe.findFirstMatchIn(callSite).map(m => (m.group(1), m.group(2))).map {
      case ("StagingJob", _) => "staging"
      case ("DataQuality", _) => "dq"
      case ("Pipeline", method) if method.startsWith("persistA") => "analytics"
      case ("Pipeline", method) if method.startsWith("persist") => "warehouse"
      case ("AnalyticsJob", _) => "analytics"
      case (_, _) => "warehouse"
    }

  final class View(t: Trace, spans: Seq[Span]) {
    val tags: Set[String] = spans.map(_.tag).toSet
    val jobs: Seq[JobRec] = t.jobs.values.filter(_.tags.exists(tags)).toSeq
    private val jobIds = jobs.map(_.id).toSet
    val tasks: Seq[TaskRec] = t.tasks.filter(x => jobIds(x.job)).toSeq
    val stages: Seq[StageRec] = t.stages.filter(s => jobIds(s.job)).toSeq
    private def inSpan(ms: Long) = spans.exists(s => ms >= s.startMs && ms <= s.endMs)
    val execs: Map[Long, ExecRec] = t.execs.filter { case (_, e) => inSpan(e.start) }.toMap
    val plans: Seq[PlanRec] = execs.values.flatMap(_.facts).toSeq

    /** Wall time inside the spans with no task of theirs running. */
    def driverSeconds: Double = spans.map { s =>
      s.wallMs - covered(tasks.map(x => (x.launch, x.finish)), s.startMs, s.endMs)
    }.sum / 1000.0
  }

  def spark(v: View, gcS: Double, pinnedBytes: Long): Map[String, Double] = {
    val tasks = v.tasks
    def sumL(f: TaskRec => Long): Double = tasks.map(f).sum.toDouble
    Map(
      "spark.driver_s" -> v.driverSeconds,
      "spark.plan_s" -> v.plans.map(_.planMs).sum / 1000.0,
      "spark.jobs" -> v.jobs.size.toDouble,
      "spark.stages" -> v.stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.scheduler_delay_s" -> sumL(_.schedDelayMs) / 1000.0,
      "spark.executor_run_s" -> sumL(_.runMs) / 1000.0,
      "spark.executor_cpu_s" -> sumL(_.cpuNs) / 1e9,
      "spark.gc_s" -> gcS,
      "spark.serial_stage_s" -> v.stages.filter(_.numTasks == 1)
        .map(s => math.max(0L, s.complete - s.submit)).sum / 1000.0,
      "spark.failed_tasks" -> tasks.count(_.failed).toDouble,
      "spark.scan_bytes" -> sumL(_.bytesRead),
      "spark.shuffle_write_bytes" -> sumL(_.shuffleWrite),
      "spark.fetch_wait_s" -> sumL(_.fetchWaitMs) / 1000.0,
      "spark.spill_bytes" -> sumL(_.spill),
      "spark.output_bytes" -> sumL(_.bytesWritten),
      "spark.output_files" -> v.plans.map(_.files).sum.toDouble,
      "spark.pinned_mb" -> pinnedBytes / (1024.0 * 1024.0),
      "plan.checkpoints" -> v.plans.map(_.checkpointReads).sum.toDouble,
      "plan.scans" -> v.plans.map(_.scans).sum.toDouble,
      "plan.exchanges" -> v.plans.map(_.exchanges).sum.toDouble,
      "plan.windows_unpartitioned" -> v.plans.map(_.windowsUnpartitioned).sum.toDouble,
      "plan.cartesians" -> v.plans.map(_.cartesians).sum.toDouble)
  }

  /** Pipeline attribution inside one `Pipeline.run` span. Each job goes
    * to a stage by its SQL execution's call site (the job's own call site
    * when it has no execution) and to a table by its execution's output
    * path; DQ jobs go to `dq`. A stage's time is the wall during which
    * its jobs had a task running, so stage times plus the driver time
    * (no task running) account for the span; jobs that match no table
    * are reported as unattributed, and so is any remainder.
    */
  def pipeline(t: Trace, elt: Span): (Map[String, Double], Seq[String]) = {
    val v = new View(t, Seq(elt))
    val byKey = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[JobRec]]
    val unattributed = mutable.ArrayBuffer.empty[String]
    val lastWritten = mutable.Map.empty[String, String]
    v.jobs.foreach { j =>
      val exec = j.exec.flatMap(v.execs.get)
      val callSite = exec.map(_.details).filter(_.contains("graft.pipeline"))
        .getOrElse(j.callSite)
      val byPath = exec.flatMap(_.facts).flatMap(_.outputPath)
        .flatMap(p => PathRe.findFirstMatchIn(p)).map(m => s"${m.group(1)}.${m.group(2)}")
      // a job with no output path in a stage that just wrote a table is
      // that table's read-back (every persist writes, then reads back)
      val key = stageOfCallSite(callSite) match {
        case Some("dq") => Some("dq")
        case Some(stage) =>
          byPath.filter(_.startsWith(stage + ".")).map { k => lastWritten(stage) = k; k }
            .orElse(if (byPath.isEmpty) lastWritten.get(stage) else None)
        case None => None
      }
      key match {
        case Some(k) => byKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += j
        case None =>
          unattributed += s"job ${j.id}: ${callSite.linesIterator.take(2).mkString(" | ")}"
      }
    }
    def busy(js: Iterable[JobRec]): Double = {
      val ids = js.map(_.id).toSet
      covered(v.tasks.filter(x => ids(x.job)).map(x => (x.launch, x.finish)),
        elt.startMs, elt.endMs) / 1000.0
    }
    val perKey = byKey.map { case (k, js) => k -> busy(js) }
    val stagingTasks = byKey.filter(_._1.startsWith("staging.")).values.flatten
      .map(_.id).toSet
    val sTasks = v.tasks.filter(x => stagingTasks(x.job))
    val rowsIn = sTasks.map(_.recordsRead).sum.toDouble
    val rowsOut = sTasks.map(_.recordsWritten).sum.toDouble
    val driver = v.driverSeconds
    val unattributedJobs = v.jobs.size - byKey.values.map(_.size).sum
    val m = perKey.map { case (k, s) => s"$k.s" -> s }.toMap ++ Map(
      "staging.rows_in" -> rowsIn,
      "staging.rows_dropped" -> (rowsIn - rowsOut),
      "dq.jobs" -> byKey.get("dq").map(_.size.toDouble).getOrElse(0.0),
      "elt.driver_s" -> driver,
      "elt.unattributed_jobs" -> unattributedJobs.toDouble,
      "elt.remainder_s" -> (elt.seconds - perKey.values.sum - driver))
    (m, unattributed.toSeq)
  }
}
