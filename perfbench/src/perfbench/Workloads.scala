package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Bpe, Completeness, Curation, MqDpla, Packing}
import graft.processes._
import graft.sinks.{Manifest, ShardWriter}
import graft.sources.{AvroSource, Catalog}

/** One benchmark workload: seeded inputs made once per run, then
  * repetitions that each get a fresh output root and their own catalog
  * database (its LOCATION is the repetition's warehouse directory).
  */
trait Workload {
  /** Writes the inputs and returns a summary (records, bytes, shape). */
  def generate(): Map[String, Any]
  /** Untimed-in-wall per-repetition set-up (counted in setup_s). */
  def setupRep(root: String): Unit = ()
  /** Runs the timed steps; each step goes through `step`. */
  def runRep(root: String, step: Steps): Unit
  /** Output checks against the generator's ground truth; empty = pass. */
  def check(root: String): Seq[String]
  /** Per-layer numbers from calls into single modules (traced run only). */
  def isolated(root: String, time: (=> Unit) => Double): Map[String, Double] =
    Map.empty
  /** Per-layer numbers that come from the repetition's own results. */
  def repLayers(root: String): Map[String, Double] = Map.empty
  /** What the checks compared, for the run's summary line. */
  def notes(): Map[String, Any] = Map.empty
}

/** Times one named step (and, in the traced run, records its span). */
trait Steps { def apply(name: String)(f: => Unit): Unit }

object Workloads {

  /** Runs a program main with its stdout captured (returned as text). */
  def quietly(f: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(f)
    ps.flush()
    val s = buf.toString("UTF-8")
    System.err.print(s)
    s
  }

  def files(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(root))
  }
  def isData(f: File): Boolean =
    !f.getName.startsWith(".") && !f.getName.startsWith("_")

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Exactly one `<root>/yyyy/MM/<suffix>` directory. */
  def dated(root: String, suffix: String): String = {
    def kids(f: File) = Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
    val hits = kids(new File(root)).flatMap(kids).map(m => new File(m, suffix))
      .filter(_.isDirectory)
    require(hits.size == 1, s"expected one yyyy/MM/$suffix under $root, got $hits")
    hits.head.getPath
  }

  def apply(name: String, spark: SparkSession, seed: Long, input: String,
      tiny: Boolean, out: String): Workload = name match {
    case "monthly_batch" => new MonthlyBatch(spark, seed, input, tiny)
    case "curation_chain" => new CurationChain(spark, seed, input, tiny, out)
  }
}

import Workloads._

/** The paper's production chain, in MonthlyBatchMain's step order. */
final class MonthlyBatch(spark: SparkSession, seed: Long, input: String,
    tiny: Boolean) extends Workload {
  private val total = if (tiny) 3000 else 55000
  private val master = s"$input/master"
  private val hubs = Gen.hubs(total)
  private lazy val truth = Gen.masterTruth(seed, hubs)

  def generate(): Map[String, Any] = {
    Gen.writeMaster(spark, seed, master, hubs)
    val latest = files(master).filter(f => isData(f) &&
      f.getPath.contains(Gen.NewTs))
    Map("hubs" -> hubs.size, "latest_records" -> truth.latestRecords,
      "stale_records" -> truth.staleRecords,
      "largest_hub_records" -> hubs.map(_.latest).max,
      "smallest_hub_records" -> hubs.map(_.latest).min,
      "input_bytes_latest" -> latest.map(_.length).sum,
      "input_bytes_all" -> files(master).filter(isData).map(_.length).sum)
  }

  def runRep(root: String, step: Steps): Unit = {
    step("parquet_dump_s")(quietly(
      ParquetDumpMain.main(Array(master, s"$root/parquet"))))
    val pq = dated(s"$root/parquet", "all.parquet")
    step("jsonl_dump_s")(quietly(
      JsonlDumpMain.main(Array(master, s"$root/jsonl"))))
    step("mq_reports_s")(quietly(
      MqReportsMain.main(Array(pq, s"$root/mq"))))
    step("sitemap_s")(quietly(SitemapMain.main(Array(pq, s"$root/sitemap",
      "https://example.org/sitemaps/"))))
  }

  def check(root: String): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val hconf = spark.sparkContext.hadoopConfiguration
    val pq = dated(s"$root/parquet", "all.parquet")
    val ids = spark.read.parquet(pq).select("id").collect().map(_.getString(0))
    if (ids.length != truth.latestRecords)
      errs += s"parquet rows ${ids.length} != latest-snapshot records ${truth.latestRecords}"
    if (ids.toSet != truth.ids) errs += "parquet ids differ from the latest snapshots' ids"
    val manifestCount = Manifest.read(hconf, pq).linesIterator
      .collectFirst { case l if l.startsWith("Count: ") => l.stripPrefix("Count: ").trim }
    if (!manifestCount.contains(truth.latestRecords.toString))
      errs += s"parquet manifest Count $manifestCount != ${truth.latestRecords}"

    val jl = dated(s"$root/jsonl", "jsonl")
    val lines = spark.read.text(s"$jl/*.jsonl")
      .select(regexp_extract(input_file_name(), "/([^/]+)\\.jsonl/", 1).as("d"))
      .groupBy("d").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = truth.perProvider + ("all" -> truth.latestRecords)
    if (lines != want) errs += s"jsonl line counts differ: " +
      (want.keySet ++ lines.keySet).toSeq.sorted
        .filter(k => lines.get(k) != want.get(k))
        .map(k => s"$k=${lines.get(k)} want ${want.get(k)}").take(5).mkString(", ")

    val mq = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dated(s"$root/mq", "provider")).collect()
    if (mq.length != truth.mqMeans.size)
      errs += s"mq provider rows ${mq.length} != ${truth.mqMeans.size}"
    mq.foreach { r =>
      val p = r.getAs[String]("provider")
      truth.mqMeans.get(p) match {
        case None => errs += s"mq: unexpected provider $p"
        case Some(means) =>
          Gen.MqScoreCols.zip(means).foreach { case (c, m) =>
            val got = r.getAs[Any](c).toString.toDouble
            if (math.abs(got - m) > 1e-9) errs += s"mq $p.$c = $got, want $m"
          }
          val n = r.getAs[Any]("count").toString.toLong
          if (n != truth.mqCounts(p)) errs += s"mq $p.count = $n, want ${truth.mqCounts(p)}"
      }
    }

    val sm = new File(s"$root/sitemap").listFiles()
      .filter(_.getName.matches("sitemap\\d+\\.xml\\.gz")).sortBy(_.getName)
    val loc = "<loc>https://dp\\.la/item/([^<]+)</loc>".r
    val perFile = sm.map { f =>
      val in = new GZIPInputStream(new java.io.FileInputStream(f))
      val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      loc.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    val urls = perFile.flatten
    val wantFiles = (truth.latestRecords + 49999) / 50000
    if (sm.length != wantFiles) errs += s"sitemap wrote ${sm.length} subfile(s), want $wantFiles"
    if (perFile.exists(_.size > 50000)) errs += "a sitemap subfile holds more than 50k URLs"
    if (urls.size != truth.latestRecords) errs += s"sitemap URLs ${urls.size} != ${truth.latestRecords}"
    if (urls.distinct.size != urls.size) errs += "sitemap URLs are not unique"
    if (urls.toSet != truth.ids) errs += "sitemap URLs differ from the item ids"
    errs.result()
  }

  override def isolated(root: String,
      time: (=> Unit) => Double): Map[String, Double] = {
    val paths = Catalog.latestSnapshots(spark.sparkContext.hadoopConfiguration,
      master, "enrichment").values.toSeq.sorted
    val decode = time(noop(AvroSource.read(spark, paths)))
    val decoded = AvroSource.read(spark, paths)
      .persist(StorageLevel.MEMORY_AND_DISK)
    decoded.count()
    val flatten = time(noop(
      Processes.flattenRecord(Processes.schemaRepair(decoded))))
    decoded.unpersist(true)
    val pq = spark.read.parquet(dated(s"$root/parquet", "all.parquet"))
    val mq = time(noop(Completeness.scores(
      MqDpla.withDerived(MqDpla.itemdata(pq)), Seq("provider"),
      MqDpla.scoreCols)))
    Map("sources.avro_decode_s" -> decode, "schema.align_flatten_s" -> flatten,
      "operators.mq_score_s" -> mq)
  }
}

/** The curation chain: one month's increment against fp/sig dedup
  * indexes bootstrapped from month 0 (set-up), index compaction against
  * the month-1 corpus, then training shards from the month-1 corpus.
  */
final class CurationChain(spark: SparkSession, seed: Long, input: String,
    tiny: Boolean, out: String) extends Workload {
  private val c = Gen.chain(seed, if (tiny) 1200 else 6000)
  private val m0 = s"$input/month0.parquet"
  private val m1 = s"$input/month1.parquet"
  private val evalPath = s"$input/eval.parquet"
  private var testIds = Set.empty[Long]
  // the survivor-set hash of the first run on these exact inputs in this
  // checkout: every later run (and repetition) on them must reproduce it.
  // Keyed by a digest of the generated documents, so a changed generator
  // starts a new record instead of failing against an old one.
  private val inputDigest = Gen.md5Hex((c.month0 ++ c.month1 ++ c.eval)
    .map(d => s"${d.id}|${d.lang}|${d.text}").mkString("\n"))
  private val hashFile = new File(out,
    s"survivors-seed$seed-${inputDigest.take(16)}.md5")
  private var hashChecks = Seq.empty[String]
  private var last: Map[String, Double] = Map.empty

  def generate(): Map[String, Any] = {
    Gen.frame(spark, c.month0, 4).write.parquet(m0)
    Gen.frame(spark, c.month1, 4).write.parquet(m1)
    Gen.frame(spark, c.eval, 1).write.parquet(evalPath)
    // the split's expected test side, from Spark built-ins only
    testIds = spark.read.parquet(m1)
      .filter(pmod(xxhash64(col("doc_id")), lit(1000000000L)).cast("double") /
        1e9 < Curation.Config().testFraction)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Map("month0_records" -> c.month0.size, "month1_records" -> c.month1.size,
      "eval_docs" -> c.eval.size, "added" -> c.added, "changed" -> c.changed,
      "removed" -> c.removed, "exact_copies" -> c.exactCopyIds.size,
      "hot_increment_copies" -> c.hotCopies, "hot_class_size" -> c.hotClass,
      "planted_overlaps" -> c.planted.size,
      "input_bytes" -> Seq(m0, m1, evalPath).flatMap(files).filter(isData)
        .map(_.length).sum)
  }

  private def month1 = spark.read.parquet(m1)
  private def eval = spark.read.parquet(evalPath)

  /** Bootstraps the fp/sig indexes from month 0 in the repetition's own
    * database — identical for every repetition.
    */
  override def setupRep(root: String): Unit = {
    val snap0 = spark.read.parquet(m0)
    DeltaCurate.run(snap0.limit(0), snap0, "doc_id", "text", "lang",
      fpIndexTable = "fp_index", sigIndexTable = "sig_index")
  }

  def runRep(root: String, step: Steps): Unit = {
    var inc = ""
    var cmp = ""
    var trainDocs = -1L
    step("increment_s") {
      inc = quietly(DeltaCurateMain.main(Array(m0, m1, s"$root/survivors",
        "fp_index", "sig_index")))
    }
    step("compact_s") {
      cmp = quietly(CompactIndexesMain.main(Array(m1, "fp_index", "sig_index")))
    }
    step("pipeline_s") {
      trainDocs = TrainingPipeline.run(month1, "doc_id", "text", "lang",
        evalSet = Some(eval), outPath = s"$root/shards").trainDocs
    }
    def nums(s: String): Map[String, Double] =
      "\"(\\w+)\":(\\d+)".r.findAllMatchIn(s.linesIterator.filter(_.startsWith("{"))
        .toSeq.lastOption.getOrElse("")).map(m => m.group(1) -> m.group(2).toDouble).toMap
    last = nums(inc) ++ nums(cmp) + ("train_docs" -> trainDocs.toDouble)
  }

  def check(root: String): Seq[String] = {
    val errs = Seq.newBuilder[String]
    // increment
    Seq("added" -> c.added, "changed" -> c.changed, "removed" -> c.removed)
      .foreach { case (k, want) =>
        if (!last.get(k).contains(want.toDouble))
          errs += s"$k = ${last.get(k)}, want $want"
      }
    val surv = spark.read.parquet(s"$root/survivors")
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val ids = surv.map(_._1).toSet
    val copies = ids.intersect(c.exactCopyIds)
    if (copies.nonEmpty) errs += s"${copies.size} exact copies survived the increment"
    if (!c.freshIds.subsetOf(ids)) errs += "a fresh added document was dropped"
    if (!c.materialIds.subsetOf(ids)) errs += "a material edit was dropped"
    val h = Gen.md5Hex(surv.map { case (i, t) => s"$i:$t" }.mkString(","))
    if (!hashFile.exists) {
      java.nio.file.Files.write(hashFile.toPath, h.getBytes("UTF-8"))
      hashChecks :+= "recorded"
    } else if (new String(java.nio.file.Files.readAllBytes(hashFile.toPath), "UTF-8") != h) {
      errs += "survivor set differs from an earlier run on the same inputs"
      hashChecks :+= "differs"
    } else hashChecks :+= "matched"
    last += "survivors" -> surv.length.toDouble
    if (!last.contains("fp_rows") || !last.contains("sig_rows"))
      errs += "compaction did not report its row counts"
    // shards
    val byText = c.month1.groupBy(_.text).map { case (t, ds) => t -> ds.map(_.id) }
    val shardDocs = spark.read.parquet(s"$root/shards").select("text").collect()
      .flatMap(_.getString(0).split("\n\n"))
    val unknown = shardDocs.count(t => !byText.contains(t))
    if (unknown > 0) errs += s"$unknown shard documents match no input document"
    val known = shardDocs.filter(byText.contains)
    if (known.distinct.length != known.length) errs += s"${known.length - known.distinct.length} " +
      "documents (or members of one exact-duplicate class) appear twice across shards"
    val keeperIds = known.map(t => byText(t).min)
    if (keeperIds.exists(c.planted)) errs += "a planted eval overlap reached train"
    if (keeperIds.exists(c.rejected)) errs += "a short or off-language document reached train"
    if (keeperIds.exists(testIds)) errs += "a test-split document reached train"
    if (shardDocs.length != last("train_docs"))
      errs += s"shards hold ${shardDocs.length} documents, pipeline reported ${last("train_docs")}"
    errs.result()
  }

  override def notes(): Map[String, Any] =
    Map("survivor_hash" -> hashChecks, "survivor_hash_file" -> hashFile.getName)

  override def repLayers(root: String): Map[String, Double] = {
    val inDelta = last.getOrElse("added", 0.0) + last.getOrElse("changed", 0.0)
    val gated = last.getOrElse("gated", 0.0)
    Map(
      "delta.gated_frac" -> (if (inDelta > 0) gated / inDelta else 0.0),
      "delta.survivor_frac" ->
        (if (gated > 0) last.getOrElse("survivors", 0.0) / gated else 0.0),
      "index.rows" -> (last.getOrElse("fp_rows", 0.0) + last.getOrElse("sig_rows", 0.0)),
      "index.files" -> files(s"$root/wh").count(isData).toDouble)
  }

  override def isolated(root: String,
      time: (=> Unit) => Double): Map[String, Double] = {
    val mem = StorageLevel.MEMORY_AND_DISK
    var curated: DataFrame = null
    val curate = time {
      curated = Curation.curateFlagged(month1, "doc_id", "text", "lang",
        evalSet = Some(eval)).persist(mem)
      curated.count()
    }
    val kept = curated.count().toDouble
    val train = curated.filter(!col("__is_test")).drop("__is_test")
    var merges: Seq[(String, String)] = Nil
    val bpe = time { merges = Bpe.fitMerges(train, "text", numMerges = 200,
      vocabWords = 20000) }
    val counted = Bpe.tokenize(train, "text", merges)
      .select(col("doc_id"), size(col("bpe_tokens")).cast("long").as("__nt"))
      .persist(mem)
    counted.count()
    var bins: org.apache.spark.sql.Dataset[Packing.PackedBin] = null
    val pack = time {
      bins = Packing.packGreedy(counted, "doc_id", "__nt", 2048).persist(mem)
      bins.count()
    }
    val seqs = Packing.materializeBins(bins, train, "doc_id", "text").persist(mem)
    seqs.count()
    val write = time(ShardWriter.writeShards(seqs, "bin_id", 8,
      s"$root/isolated_shards").count())
    Seq(seqs, bins, counted, curated).foreach(_.unpersist(true))
    val gatePassing = c.month1.count(d => !c.rejected(d.id)).toDouble
    Map("operators.curate_s" -> curate, "operators.bpe_fit_s" -> bpe,
      "operators.pack_s" -> pack, "sinks.shard_write_s" -> write,
      "operators.dup_drop_frac" -> (gatePassing - kept) / gatePassing)
  }
}
