package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run: run → step → Spark job →
  * stage. Steps are the benchmark's own calls into the program's public
  * entry points; jobs and stages come from a SparkListener the benchmark
  * registers, planning phases from a QueryExecutionListener. Nothing is
  * written until [[Tracer.spans]] is serialized at the end of the run.
  *
  * A job belongs to the step whose interval contains the job's submission
  * time. A span's self time is its duration minus the union of its
  * children's intervals.
  */
final class Tracer(spark: SparkSession) {

  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      peakMem: Long, inBytes: Long, inRecs: Long, outBytes: Long,
      outRecs: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long,
      spill: Long)
  final class Job(val id: Int, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final class Stage(val id: Int, val submit: Long, val done: Long,
      val tasks: Int)
  final case class Step(name: String, start: Long, end: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val steps = mutable.ArrayBuffer.empty[Step]
  private var planningMs = 0L
  private var sqlActions = 0L
  private var aqeUpdates = 0L
  @volatile private var lastEvent = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      jobs += new Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock {
        val i = e.stageInfo
        stages(i.stageId) = new Stage(i.stageId,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => lock {
        aqeUpdates += 1
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = lock {
      sqlActions += 1
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  private def lock[A](f: => A): A = synchronized {
    lastEvent = System.currentTimeMillis(); f
  }

  private def classic =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    classic.listenerManager.register(qeListener)
  }

  /** Detach, after the listener bus has delivered every event of the
    * jobs seen so far (it is asynchronous; job-end follows task-end).
    */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() < deadline &&
      (synchronized(jobs.exists(_.end < 0)) ||
        System.currentTimeMillis() - lastEvent < 500L)) Thread.sleep(50)
    classic.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def step[A](name: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f
    finally synchronized { steps += Step(name, t0, System.currentTimeMillis()) }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  final case class StepLayers(name: String, wallS: Double, gapS: Double,
      jobActiveS: Double, stageActiveS: Double, jobs: Int, taskRunS: Double,
      taskCpuS: Double, gcS: Double, fetchWaitS: Double, dominant: String) {
    /** |gap + stage-active − wall| ÷ wall: the accounting error. */
    def accountingErr: Double =
      if (wallS <= 0) 0.0 else math.abs(gapS + stageActiveS - wallS) / wallS
  }

  private def stepJobs(st: Step): Seq[Job] =
    jobs.toSeq.filter(j => j.start >= st.start && j.start <= st.end)

  /** Jobs whose submission lies in no step: work the split cannot place. */
  def orphanJobs: Int = synchronized {
    jobs.count(j => !steps.exists(st => j.start >= st.start && j.start <= st.end))
  }

  /** Per-step split. The driver gap is a residual: the step wall (the
    * benchmark's own clock around the call) minus the part its jobs cover.
    * Job-active is the union of the step's job intervals. The accounting
    * check compares gap + stage-active with the wall, where stage-active
    * is the union of the step's stage intervals (the listener's stage
    * submission/completion times, not clipped to the step): job time no
    * stage covers, stages outside their step and missing stage events all
    * show as an error.
    */
  def stepLayers(cores: Int): Seq[StepLayers] = synchronized {
    steps.toSeq.map { st =>
      val mine = stepJobs(st)
      val iv = mine.map(j => (j.start, if (j.end < 0) st.end else j.end))
      val activeMs = covered(iv, st.start, st.end)
      val gapMs = (st.end - st.start) - activeMs
      val stageIds = mine.flatMap(_.stages).toSet
      val stageMs = covered(stageIds.toSeq.flatMap(stages.get)
        .filter(_.submit > 0L).map(s => (s.submit, s.done)),
        Long.MinValue, Long.MaxValue)
      val ts = tasks.filter(t => stageIds.contains(t.stage))
      val run = ts.map(_.runMs).sum / 1e3
      val cpu = ts.map(_.cpuNs).sum / 1e9
      val gc = ts.map(_.gcMs).sum / 1e3
      val fetch = ts.map(_.fetchWaitMs).sum / 1e3
      val active = activeMs / 1e3
      val parts = Seq(
        "driver" -> gapMs / 1e3,
        "sched" -> math.max(0.0, active - run / cores),
        "exec" -> math.max(0.0, (run - gc - fetch) / cores),
        "gc" -> gc / cores,
        "shuffle" -> fetch / cores)
      StepLayers(st.name, (st.end - st.start) / 1e3, gapMs / 1e3, active,
        stageMs / 1e3, mine.size, run, cpu, gc, fetch, parts.maxBy(_._2)._1)
    }
  }

  /** Whole-trace counters as the benchmark's per-layer metrics. */
  def layerMetrics(cores: Int): Map[String, Double] = synchronized {
    val sl = stepLayers(cores)
    val activeS = sl.map(_.jobActiveS).sum
    val run = tasks.map(_.runMs).sum / 1e3
    val skew = tasks.groupBy(_.stage).values
      .filter(ts => ts.size >= 2 && ts.map(_.runMs).max >= 100L)
      .map { ts =>
        val m = median(ts.map(_.runMs).toSeq)
        ts.map(_.runMs).max / math.max(m, 1.0)
      }
    Map(
      "driver.gap_s" -> sl.map(_.gapS).sum,
      "driver.sql_planning_s" -> planningMs / 1e3,
      "driver.sql_actions" -> sqlActions.toDouble,
      "driver.aqe_updates" -> aqeUpdates.toDouble,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.job_active_s" -> activeS,
      "sched.core_util" -> (if (activeS > 0) run / (activeS * cores) else 0.0),
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_run_s" -> run,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "exec.peak_task_mem_mb" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1048576.0),
      "io.input_bytes" -> tasks.map(_.inBytes).sum.toDouble,
      "io.input_records" -> tasks.map(_.inRecs).sum.toDouble,
      "io.output_bytes" -> tasks.map(_.outBytes).sum.toDouble,
      "io.output_records" -> tasks.map(_.outRecs).sum.toDouble,
      "shuffle.write_bytes" -> tasks.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "trace.max_accounting_err" ->
        (if (sl.isEmpty) 0.0 else sl.map(_.accountingErr).max))
  }

  /** Every span as JSON: run → step → job → stage, with parent ids and
    * self time (duration minus the union of the children's intervals).
    */
  def spansJson(runStart: Long, runEnd: Long): String = synchronized {
    val out = mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: String, kind: String, name: String,
        s: Long, e: Long, self: Long, extra: String = ""): Unit =
      out += s"""{"id":"$id","parent":${if (parent == null) "null" else
        "\"" + parent + "\""},"kind":"$kind","name":"$name","start_ms":$s,""" +
        s""""end_ms":$e,"self_ms":$self$extra}"""
    val stepIv = steps.toSeq.map(st => (st.start, st.end))
    span("run", null, "run", "run", runStart, runEnd,
      (runEnd - runStart) - covered(stepIv, runStart, runEnd))
    steps.zipWithIndex.foreach { case (st, i) =>
      val mine = stepJobs(st)
      val jiv = mine.toSeq.map(j => (j.start, math.max(j.end, j.start)))
      span(s"step$i", "run", "step", st.name, st.start, st.end,
        (st.end - st.start) - covered(jiv, st.start, st.end))
      mine.foreach { j =>
        val je = math.max(j.end, j.start)
        val sts = j.stages.flatMap(stages.get)
        val siv = sts.map(s => (s.submit, s.done))
        span(s"job${j.id}", s"step$i", "job", s"job ${j.id}", j.start, je,
          (je - j.start) - covered(siv, j.start, je))
        sts.foreach { s =>
          val ts = tasks.filter(_.stage == s.id)
          span(s"stage${s.id}", s"job${j.id}", "stage", s"stage ${s.id}",
            s.submit, s.done, s.done - s.submit,
            s""","tasks":${s.tasks},"task_run_ms":${ts.map(_.runMs).sum},""" +
              s""""task_cpu_ms":${ts.map(_.cpuNs).sum / 1000000L},""" +
              s""""shuffle_write_bytes":${ts.map(_.shWrite).sum}""")
        }
      }
    }
    out.mkString("[\n", ",\n", "\n]\n")
  }
}
