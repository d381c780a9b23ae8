package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.HostLoad

/** Benchmark driver. One JVM, one `local[N]` session (N = available
  * cores, settings as in graft.Bench), one workload:
  *
  *  1. set-up: session start, seeded input generation;
  *  2. one cold repetition with its own output root and catalog database,
  *     its own set-up (curation_chain: index bootstrap), and output checks
  *     after the timed part. It gives the end-to-end numbers. `--seconds`
  *     is accepted for the command-line contract; one cold repetition
  *     already outlasts it;
  *  3. with `--trace 1`, that repetition runs with listeners attached
  *     (spans: run → step → job → stage), followed by calls into single
  *     modules and a traced/untraced pair of warm repetitions on the same
  *     inputs in the same JVM, whose difference is the tracing overhead.
  *
  * The last stdout line is the result JSON; earlier lines carry the
  * generator summary, per-repetition numbers and host load.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m.get("scale").contains("tiny"), m("work"), m("out"))
  }

  def now(): Double = System.nanoTime() / 1e9
  def timed(f: => Unit): Double = { val t = now(); f; now() - t }
  def cpuSeconds(): Double = HostLoad.cpuJiffies()._2 / 100.0

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case other => other.toString
  }

  def rm(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => rm(c.getPath))
    f.delete()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.maxPlanStringLength", "1024")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.register(s)
    s
  }

  final case class Rep(setupS: Double, wallS: Double, cpuS: Double,
      steps: Map[String, Double], storedBytes: Double, outputFiles: Double,
      extCores: Double, loadBefore: Double, loadAfter: Double,
      errors: Seq[String], layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        3
    }
    System.exit(code)
  }

  def run(a: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val tRun0 = System.currentTimeMillis()
    val loadStart = HostLoad.loadavg()
    val mopsStart = HostLoad.hostSpeedMops()
    var spark: SparkSession = null
    val sessionS = timed { spark = session(cores, a.work) }
    val input = s"${a.work}/input"
    val wl = Workloads(a.workload, spark, a.seed, input, a.tiny, a.out)
    var summary: Map[String, Any] = Map.empty
    val genS = timed { summary = wl.generate() }
    println("perfbench input " + json(summary + ("workload" -> a.workload) +
      ("seed" -> a.seed)))

    var repNo = 0
    def onFreshRoot[A](f: String => A): (String, A) = {
      val root = s"${a.work}/reps/r$repNo"
      new File(root).mkdirs()
      spark.sql(s"CREATE DATABASE rep$repNo LOCATION '${new File(s"$root/wh").toURI}'")
      spark.catalog.setCurrentDatabase(s"rep$repNo")
      repNo += 1
      (root, f(root))
    }
    def cleanup(root: String): Unit = {
      spark.catalog.setCurrentDatabase("default")
      spark.sql(s"DROP DATABASE IF EXISTS rep${repNo - 1} CASCADE")
      spark.catalog.clearCache()
      rm(root)
    }

    /** One repetition: set-up, timed steps, checks, output accounting. */
    def rep(tracer: Option[Tracer], keep: Boolean = false): (String, Rep) = {
      val steps = mutable.LinkedHashMap.empty[String, Double]
      val stepper = new Steps {
        def apply(name: String)(f: => Unit): Unit = {
          val s = timed(tracer.fold(f)(_.step(name)(f)))
          steps(name) = s
        }
      }
      val (root, r) = onFreshRoot { root =>
        val setupS = timed(wl.setupRep(root))
        System.gc()
        val lb = HostLoad.loadavg()
        val j0 = HostLoad.cpuJiffies()
        val c0 = cpuSeconds()
        tracer.foreach(_.start())
        var err: Seq[String] = Nil
        val wallS = timed {
          try wl.runRep(root, stepper)
          catch { case e: Throwable =>
            e.printStackTrace(); err = Seq(s"run threw: $e")
          }
        }
        tracer.foreach(_.stop())
        val cpuS = cpuSeconds() - c0
        val ext = HostLoad.externalCores(j0, HostLoad.cpuJiffies(), wallS)
        val la = HostLoad.loadavg()
        val outFiles = Workloads.files(root)
        val errors = if (err.nonEmpty) err else
          try wl.check(root) catch { case e: Throwable =>
            e.printStackTrace(); Seq(s"check threw: $e") }
        val layers = if (err.nonEmpty) Map.empty[String, Double] else wl.repLayers(root)
        Rep(setupS, wallS, cpuS, steps.toMap, outFiles.map(_.length).sum.toDouble,
          outFiles.count(Workloads.isData).toDouble, ext, lb, la, errors, layers)
      }
      if (!keep) cleanup(root)
      println("perfbench rep " + json(Map("wall_s" -> r.wallS, "setup_s" -> r.setupS,
        "cpu_s" -> r.cpuS, "steps" -> r.steps, "stored_bytes" -> r.storedBytes,
        "output_files" -> r.outputFiles, "ext_cores" -> r.extCores,
        "load_before" -> r.loadBefore, "load_after" -> r.loadAfter,
        "errors" -> r.errors.take(10), "traced" -> tracer.isDefined)))
      (root, r)
    }

    // The repetition runs in a cold JVM, as every monthly spark-submit
    // does: its wall, CPU and output are the end-to-end numbers.
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val runStart = System.currentTimeMillis()
    val (firstRoot, first) = rep(tracer, keep = a.trace)
    val reps = mutable.ArrayBuffer(first)
    var metrics: Map[String, Double] = Map(
      "setup_s" -> (sessionS + genS + first.setupS),
      "wall_s" -> first.wallS,
      "cpu_s" -> first.cpuS,
      "stored_bytes" -> first.storedBytes,
      "output_files" -> first.outputFiles)
    tracer.foreach { tr =>
      val iso = wl.isolated(firstRoot, f => timed(f))
      cleanup(firstRoot)
      val runEnd = System.currentTimeMillis()
      // tracing overhead: a warm traced repetition, then a warm untraced
      // one, on the same inputs in this JVM. The JVM still warms up between
      // the two, so the difference leans towards overstating the overhead.
      val traced = rep(Some(new Tracer(spark)))._2
      val plain = rep(None)._2
      reps ++= Seq(traced, plain)
      val overhead = traced.wallS - plain.wallS
      val sl = tr.stepLayers(cores)
      val orphans = tr.orphanJobs
      val traceErrors =
        sl.filter(_.accountingErr > 0.10).map(s => f"traced step ${s.name}: " +
          f"gap + stage-active is ${s.accountingErr * 100}%.1f%% off its wall") ++
        (if (orphans > 0) Seq(s"$orphans traced job(s) started outside every step")
         else Nil)
      reps(0) = first.copy(errors = first.errors ++ traceErrors)
      println("perfbench trace " + json(Map(
        "workload" -> a.workload, "seed" -> a.seed,
        "traced_cold_wall_s" -> first.wallS,
        "warm_untraced_wall_s" -> plain.wallS, "warm_traced_wall_s" -> traced.wallS,
        "overhead_s" -> overhead, "orphan_jobs" -> orphans,
        "steps" -> sl.map(s => Map(
          "step" -> s.name, "wall_s" -> s.wallS, "driver_gap_s" -> s.gapS,
          "job_active_s" -> s.jobActiveS, "stage_active_s" -> s.stageActiveS,
          "jobs" -> s.jobs,
          "task_run_s" -> s.taskRunS, "task_cpu_s" -> s.taskCpuS,
          "gc_s" -> s.gcS, "fetch_wait_s" -> s.fetchWaitS,
          "accounting_err" -> s.accountingErr,
          "within_10pct" -> (s.accountingErr <= 0.10),
          "dominant" -> s.dominant)))))
      Files.write(new File(a.out, s"trace-${a.workload}-seed${a.seed}.json").toPath,
        tr.spansJson(runStart, runEnd).getBytes(StandardCharsets.UTF_8))
      val all = Layers.names.map(_ -> 0.0).toMap ++ tr.layerMetrics(cores) ++
        first.layers ++ iso ++ first.steps + ("trace.overhead_s" -> overhead)
      metrics = Layers.names.map(n => n -> all(n)).toMap
    }

    val failed = reps.count(_.errors.nonEmpty)
    println("perfbench summary " + json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> cores,
      "reps" -> reps.size, "failed_reps" -> failed,
      "failed_frac" -> failed.toDouble / reps.size,
      "session_s" -> sessionS, "generate_s" -> genS,
      "rep_setup_s" -> first.setupS, "cold_steps" -> first.steps,
      "checks" -> wl.notes(),
      "load_start" -> loadStart, "load_end" -> HostLoad.loadavg(),
      "host_mops_start" -> mopsStart, "host_mops_end" -> HostLoad.hostSpeedMops(),
      "ext_cores_first" -> first.extCores)))

    spark.stop()
    val tRun = (System.currentTimeMillis() - tRun0) / 1e3
    System.err.println(f"perfbench: ${a.workload} seed ${a.seed}: $tRun%.1f s in the JVM")
    reps.flatMap(_.errors).distinct.take(20).foreach(e =>
      System.err.println("perfbench: check failed: " + e))
    val units = Layers.units
    println(json(Map(
      "correct" -> (failed == 0),
      "attempted" -> reps.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units(k)) })))
    0
  }
}

/** Metric names and units, as BENCHMARK.json declares them. */
object Layers {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s",
    "stored_bytes" -> "B", "output_files" -> "count")
  val perLayer: Seq[(String, String)] = Seq(
    "parquet_dump_s" -> "s", "jsonl_dump_s" -> "s", "mq_reports_s" -> "s",
    "sitemap_s" -> "s", "increment_s" -> "s", "compact_s" -> "s",
    "pipeline_s" -> "s",
    "sources.avro_decode_s" -> "s", "io.input_bytes" -> "B",
    "io.input_records" -> "count",
    "schema.align_flatten_s" -> "s",
    "operators.mq_score_s" -> "s",
    "operators.curate_s" -> "s", "operators.bpe_fit_s" -> "s",
    "operators.pack_s" -> "s", "operators.dup_drop_frac" -> "ratio",
    "delta.gated_frac" -> "ratio", "delta.survivor_frac" -> "ratio",
    "index.rows" -> "count", "index.files" -> "count",
    "io.output_bytes" -> "B", "io.output_records" -> "count",
    "sinks.shard_write_s" -> "s",
    "driver.gap_s" -> "s", "driver.sql_planning_s" -> "s",
    "driver.sql_actions" -> "count", "driver.aqe_updates" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "sched.job_active_s" -> "s",
    "sched.core_util" -> "ratio",
    "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.gc_s" -> "s",
    "exec.task_skew_max" -> "ratio", "exec.peak_task_mem_mb" -> "MB",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "B",
    "trace.overhead_s" -> "s", "trace.max_accounting_err" -> "ratio")
  val names: Seq[String] = perLayer.map(_._1)
  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}
