package graft.sinks

import org.apache.spark.sql.{Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Per-provider JSONL dumps + combined all-provider dump, gzipped
  * (reference JsonlDump.scala:16-87).
  *
  * Reference semantics kept:
  *  - records are opaque text lines, never parsed (JsonlDump.scala:24-28);
  *  - a manifest records per-provider counts and the invariant
  *    Σ provider counts = all count (JsonlDump.scala:44-67).
  *
  * Spark-first deltas:
  *  - each output directory is ONE Spark job: every provider's count is an
  *    `Observation` on its own gzip text write, not a persisted copy
  *    counted by a separate action (the reference's DISK_ONLY persist +
  *    count, JsonlDump.scala:29-32);
  *  - the all-dump is one multi-path text scan over every provider's
  *    snapshot, not an n-way union (JsonlDump.scala:51) — one relation to
  *    analyse instead of n, and Spark packs its input into fewer, larger
  *    splits (the same lines in fewer gzip parts);
  *  - the n + 1 writes run as concurrent legs ([[graft.Concurrent.all]],
  *    the all-dump first since it is the longest); the manifest is written
  *    only after every leg succeeded, and the all-dump's observed count
  *    must equal Σ provider counts;
  *  - Spark's native gzip text writer with SaveMode.Overwrite instead of
  *    hand-rolled S3 delete-then-write (H7). Writes are narrow — no
  *    shuffle anywhere; at 100 TB each dump streams scan→codec→files in
  *    one stage.
  *
  * OWNERSHIP: `outRoot` belongs exclusively to this dump (the reference's
  * prefix-clearing contract, JsonlDump.scala:44-50): every `*.jsonl`
  * directory under it that is not in the CURRENT provider set is
  * recursively deleted on each run, so vanished providers don't leave
  * stale dumps. Do not co-locate unrelated `*.jsonl` directories there.
  */
object JsonlDump {

  final case class Result(outRoot: String, providerCounts: Map[String, Long],
      totalCount: Long)

  def dump(
      spark: SparkSession,
      providerPaths: Map[String, String],
      outRoot: String,
      timestamp: String): Result = {
    if (providerPaths.isEmpty) {
      // a fresh/empty source root discovers zero providers — still a valid
      // (empty) dump with an auditable manifest, not a reduce() crash
      Manifest.write(spark.sparkContext.hadoopConfiguration, outRoot,
        Map("Count.all" -> "0", "Providers" -> ""), timestamp)
      return Result(outRoot, Map.empty, 0L)
    }

    // a provider literally named "all" would write <outRoot>/all.jsonl,
    // which the combined dump then silently overwrites (and its manifest
    // count key collides with Count.all) — provider names are unvalidated
    // directory names, so fail fast (review finding)
    require(!providerPaths.contains("all"),
      "provider name 'all' collides with the combined dump — rename the " +
        "source directory")
    val root = outRoot.stripSuffix("/")
    val providers = providerPaths.keys.toSeq.sorted

    def write(lines: => Dataset[String], name: String): () => Long = () => {
      val n = Observation()
      lines.observe(n, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "gzip")
        .text(s"$root/$name.jsonl")
      n.get("n").asInstanceOf[Long]
    }
    val total +: counts = graft.Concurrent.all(
      write(spark.read.textFile(providers.map(providerPaths): _*), "all") +:
        providers.map(p => write(spark.read.textFile(providerPaths(p)), p)))
    val providerCounts = providers.zip(counts).toMap
    require(total == counts.sum,
      s"all.jsonl holds $total lines but the provider dumps hold " +
        s"${counts.sum}: a snapshot changed during the dump")

    // SaveMode.Overwrite only clears the CURRENT providers' directories:
    // a provider that disappeared since the previous run into this root
    // would leave its old <provider>.jsonl dump behind — unlisted by the
    // new manifest but still ingested by any consumer that globs
    // *.jsonl/ instead of parsing the manifest. The reference's
    // delete-then-write cleared the prefix; deleting the no-longer-
    // present provider dirs restores that contract.
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf)
    val live = providerPaths.keySet.map(_ + ".jsonl") + "all.jsonl"
    if (fs.exists(rootPath)) fs.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.endsWith(".jsonl") && !live.contains(name))
        fs.delete(st.getPath, true)
    }

    Manifest.write(hconf, outRoot,
      providerCounts.map { case (p, n) => s"Count.$p" -> n.toString } ++
        Map("Count.all" -> total.toString,
          "Providers" -> providers.mkString(",")),
      timestamp)

    Result(outRoot, providerCounts, total)
  }
}
