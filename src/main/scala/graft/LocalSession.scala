package graft

import org.apache.spark.sql.SparkSession

/** The local session the tool mains ([[Bench]], [[Verify]], [[JobProfile]],
  * [[ScaleRehearsal]]) run on, so a profile or rehearsal measures the same
  * session the bench times: `local[cpus]` with `cpus` shuffle partitions,
  * UTC, nanosecond timestamps read as longs, no UI, and short plan
  * strings. The listener bus renders an explain string per action even
  * with the UI off; simple mode plus a length cap keeps that off the
  * driver path. `conf` adds settings before the session starts.
  */
object LocalSession {
  def apply(cpus: String, conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.maxPlanStringLength", "1024")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // register graft functions at session bootstrap so a Column built
    // while another (or no) session was active still resolves the graft_*
    // kernels when analyzed against THIS session
    graft.plans.GraftFunctions.register(spark)
    spark
  }
}
