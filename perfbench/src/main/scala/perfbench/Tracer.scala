package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark-side span: a call into a layer's public function made by
  * op `op`, which is the span's parent. `construct` marks calls that return
  * a DataFrame (their jobs are eager jobs). Times are epoch milliseconds. */
final case class Span(op: String, name: String, layer: String,
                      construct: Boolean, startMs: Long, endMs: Long)

/** The traced run's recorder: a SparkListener for jobs, stages, tasks and
  * SQL executions, a QueryExecutionListener for the planning phases of each
  * successful execution, and the benchmark's own spans. Every job carries
  * its op id through the job group; SQL executions carry it through their
  * start event. Planning phases belong to the op whose wall-time window
  * holds their start: one client runs the ops one after another. An
  * execution's call site is the innermost repo frame of its call stack; a
  * job's is its result stage's name, or its execution's when the stage
  * names no repo file. Nothing is written until the run ends. */
final class Tracer(modules: Map[String, String])
    extends SparkListener with QueryExecutionListener {

  private final case class Job(op: String, callSite: String, module: String,
                               start: Long, var end: Long = -1L)
  private final class Tasks {
    var n, empty = 0
    var firstLaunch = Long.MaxValue
    var runMs, cpuNs, gcMs, deserMs, inBytes, inRecs, outBytes, outRecs,
        shWrite, shRead, fetchMs, spill = 0L
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, Tasks]
  private val sqlOp = mutable.Map.empty[Long, (String, String)]
  // (phase, start, end) in epoch ms. A Dataset that runs several actions
  // reports its one QueryExecution each time; the set counts it once.
  private val phases = mutable.Set.empty[(String, Long, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var events = 0L

  // ---- recording ----------------------------------------------------------

  def span[A](op: String, name: String, layer: String,
              construct: Boolean = false)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body
    finally synchronized {
      spans += Span(op, name, layer, construct, t0, System.currentTimeMillis())
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // a job launched from a query-stage or broadcast thread names no repo
    // file; it belongs to the SQL execution that launched it
    val stageSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val cs =
      if (Attribution.module(stageSite, modules) != "other") stageSite
      else prop("spark.sql.execution.id").toLongOption.flatMap(sqlOp.get)
        .map(_._2).filter(_.nonEmpty).getOrElse(stageSite)
    jobs(e.jobId) = Job(prop("spark.jobGroup.id"), cs,
      Attribution.module(cs, modules), e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      events += 1
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.getOrElseUpdate(e.stageInfo.stageId, t))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val t = stageTasks.getOrElseUpdate(e.stageId, new Tasks)
    t.n += 1
    t.firstLaunch = math.min(t.firstLaunch, e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.deserMs += m.executorDeserializeTime
      t.inBytes += m.inputMetrics.bytesRead
      t.inRecs += m.inputMetrics.recordsRead
      t.outBytes += m.outputMetrics.bytesWritten
      t.outRecs += m.outputMetrics.recordsWritten
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val wrote = m.outputMetrics.recordsWritten +
        m.shuffleWriteMetrics.recordsWritten
      if (read == 0 && wrote == 0) t.empty += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events += 1
      sqlOp(s.executionId) = (s.jobGroupId.getOrElse(""),
        Attribution.innermostRepoFrame(s.details, modules))
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    events += 1
    qe.tracker.phases.foreach { case (k, v) => phases += ((k, v.startTimeMs, v.endTimeMs)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Block until the listener buses have delivered everything: no new event
    * for `quietMs`, bounded by `maxMs`. */
  def drain(quietMs: Long = 400, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
           System.currentTimeMillis() - stableSince < quietMs) {
      Thread.sleep(50)
      val now = events
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
  }

  // ---- attribution --------------------------------------------------------

  /** The per-layer metrics of one op that ran from `startMs` to `endMs`. */
  def opMetrics(op: String, startMs: Long, endMs: Long): Map[String, Double] =
    synchronized {
      val opJobs = jobs.filter(_._2.op == op)
      val jobStages = stageJob.groupBy(_._2).map { case (j, m) => j -> m.keys }
      def tasksOf(js: Iterable[Int]) =
        js.flatMap(j => jobStages.getOrElse(j, Nil)).toSeq.distinct
          .flatMap(stageTasks.get)
      val stages = opJobs.keys.flatMap(j => jobStages.getOrElse(j, Nil))
        .toSeq.distinct
      val ts = stages.flatMap(stageTasks.get)
      def sumT(f: Tasks => Long) = ts.map(f).sum.toDouble
      val opSpans = spans.filter(_.op == op)
      val constructs = opSpans.filter(_.construct)
      val eager = opJobs.values.count(j =>
        constructs.exists(s => j.start >= s.startMs && j.start <= s.endMs))
      def byModule(m: String) = opJobs.filter(_._2.module == m)
      def phase(p: String) = phases.toSeq.collect {
        case (`p`, s, e) if s >= startMs && s <= endMs => e - s }.sum / 1000.0
      def jobSecs(js: Iterable[Job]) =
        js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0
      val delay = stages.flatMap(s => for {
        sub <- stageSubmit.get(s); t <- stageTasks.get(s)
        if t.firstLaunch != Long.MaxValue
      } yield math.max(0L, t.firstLaunch - sub)).sum / 1000.0
      // op wall not covered by any running job of the op
      val covered = opJobs.values.toSeq
        .map(j => (math.max(j.start, startMs), math.min(
          if (j.end < 0) endMs else j.end, endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, startMs)) { case ((acc, reach), (a, b)) =>
          val from = math.max(a, reach)
          (acc + math.max(0L, b - from), math.max(reach, b))
        }._1
      val mb = 1024.0 * 1024.0
      val nTasks = ts.map(_.n).sum
      Map(
        "plans.construct_s" -> constructs.map(s => s.endMs - s.startMs).sum / 1000.0,
        "plans.eager_jobs" -> eager.toDouble,
        "plans.sql_execs" -> sqlOp.count(_._2._1 == op).toDouble,
        "spark.plan.analysis_s" -> phase("analysis"),
        "spark.plan.optimization_s" -> phase("optimization"),
        "spark.plan.planning_s" -> phase("planning"),
        "spark.scheduler.jobs" -> opJobs.size.toDouble,
        "spark.scheduler.stages" -> stages.count(stageTasks.contains).toDouble,
        "spark.scheduler.tasks" -> nTasks.toDouble,
        "spark.scheduler.delay_s" -> delay,
        "spark.scheduler.no_job_s" -> math.max(0L, endMs - startMs - covered) / 1000.0,
        "spark.scheduler.empty_tasks" -> ts.map(_.empty).sum.toDouble,
        "sources.jobs" -> byModule("sources").size.toDouble,
        "sources.job_s" -> jobSecs(byModule("sources").values),
        "sources.input_mb" -> sumT(_.inBytes) / mb,
        "sources.input_records" -> sumT(_.inRecs),
        "sinks.write_s" -> jobSecs(byModule("sinks").values),
        "sinks.written_mb" -> sumT(_.outBytes) / mb,
        "sinks.records_written" -> sumT(_.outRecs),
        "sinks.files_written" -> 0.0,
        "spark.executor.task_run_s" -> sumT(_.runMs) / 1000.0,
        "spark.executor.task_cpu_s" -> sumT(_.cpuNs) / 1e9,
        "spark.executor.gc_s" -> sumT(_.gcMs) / 1000.0,
        "spark.executor.deser_s" -> sumT(_.deserMs) / 1000.0,
        "operators.jobs" -> byModule("operators").size.toDouble,
        "operators.task_s" ->
          tasksOf(byModule("operators").keys).map(_.runMs).sum / 1000.0,
        "spark.shuffle.write_mb" -> sumT(_.shWrite) / mb,
        "spark.shuffle.read_mb" -> sumT(_.shRead) / mb,
        "spark.shuffle.fetch_wait_s" -> sumT(_.fetchMs) / 1000.0,
        "spark.shuffle.spill_mb" -> sumT(_.spill) / mb)
    }

  /** Jobs of one op as (job id, call site, module) — the attribution the
    * per-layer numbers rest on, written out with the spans. */
  def opJobs(op: String): Seq[(Int, String, String)] = synchronized {
    jobs.toSeq.filter(_._2.op == op).sortBy(_._1)
      .map { case (id, j) => (id, j.callSite, j.module) }
  }

  def opSqlExecs(op: String): Seq[(Long, String)] = synchronized {
    sqlOp.toSeq.filter(_._2._1 == op).sortBy(_._1)
      .map { case (id, (_, cs)) => (id, cs) }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
}
