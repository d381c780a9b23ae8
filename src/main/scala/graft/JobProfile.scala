package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall-time profiler for a registered query — the tool that
  * answers "where do a composed pipeline's seconds actually go" (the
  * per-round bench totals can say only WHICH query is slow, not which of
  * its jobs). Runs one warmup pass, then one measured pass with a
  * listener that records every Spark job's wall time and call site.
  *
  * Usage: `runMain graft.JobProfile <queryName> [sfDir]`
  * Prints one line per job (duration, call site) plus the timed total;
  * diagnostic only — the driver contract mains are Verify and Bench.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <queryName> [sfDir]")
    val name = args(0)
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // A/B experiment hook: GRAFT_PROFILE_CONF="key=value;key=value"
    val extra = sys.env.get("GRAFT_PROFILE_CONF").toSeq.flatMap(
      _.split(';').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      })
    val spark = LocalSession(cpus, extra)
    val q = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))

    // warmup: JIT + codegen + scan caches
    q(spark, sfDir).collect()
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200)

    final case class J(id: Int, start: Long, var end: Long, site: String)
    val jobs = ArrayBuffer.empty[J]
    val stages = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val st = e.stageInfos
            .map(s => s"${s.name.takeWhile(_ != ':')}(${s.numTasks})")
            .mkString(",")
          jobs += J(e.jobId, e.time, -1L, st)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val s = e.stageInfo
          val dur = (for {
            a <- s.completionTime; b <- s.submissionTime
          } yield (a - b) / 1e3).getOrElse(-1.0)
          val cpu = s.taskMetrics.executorCpuTime / 1e9
          val run = s.taskMetrics.executorRunTime / 1e3
          stages += f"[stage ${s.stageId}%3d] $dur%7.3fs wall ${run}%8.3fs taskrun ${cpu}%8.3fs cpu ${s.numTasks}%4d tasks  ${s.name.takeWhile(_ != ':')} ${s.details.linesIterator.find(l => l.contains("graft") && !l.contains("JobProfile")).getOrElse("").trim}"
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // Poor-man's driver profiler: sample the main thread's stack every
    // 10 ms during the measured pass and report the hottest frames —
    // job gaps in the timeline are driver-side (analysis/optimizer/
    // codegen) time, and this says which.
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = mainThread.getStackTrace
        // first frame inside org.apache.spark that is not Thread/self
        val frame = st.find(f => f.getClassName.startsWith("org.apache.spark"))
          .map(f => s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}")
          .getOrElse(if (st.isEmpty) "?" else s"${st.head.getClassName}.${st.head.getMethodName}")
        samples.merge(frame, 1, (a, b) => a + b)
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    q(spark, sfDir).collect()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    spark.sparkContext.removeSparkListener(listener)

    val t00 = jobs.headOption.map(_.start).getOrElse(0L)
    jobs.foreach { j =>
      val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
      println(f"[job ${j.id}%3d] +${(j.start - t00) / 1e3}%7.3fs ${dur}%7.3fs  ${j.site}")
    }
    stages.foreach(println)
    import scala.jdk.CollectionConverters._
    samples.asScala.toSeq.sortBy(-_._2).take(12).foreach { case (f, n) =>
      println(f"[driver] ${n * 10}%5d ms  $f")
    }
    println(f"[total] $wall%.3f s over ${jobs.size} jobs")
    spark.stop()
  }
}
