package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.schema.DplaMap
import graft.sources.AvroSource

/** Seeded input generators. Every value is a pure function of (seed,
  * position), so the same seed gives byte-identical inputs, and the ground
  * truth each workload is checked against is computed here from the same
  * decisions, never read back from the program's output.
  */
object Gen {

  /** splitmix64: a cheap, well-mixed per-position hash. */
  def mix(xs: Long*): Long = xs.foldLeft(0x9e3779b97f4a7c15L) { (h, x) =>
    var z = h ^ (x + 0x9e3779b97f4a7c15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(xs: Long*): scala.util.Random = new scala.util.Random(mix(xs: _*))

  /** Pronounceable lowercase words, none of them a curation stopword. */
  private val Syl = Array("ba", "ko", "ri", "mu", "te", "sa", "lo", "ne",
    "vi", "du", "pe", "ga", "zo", "fi", "ha", "ju", "ki", "ma", "no", "ru")
  val Vocab: Array[String] = {
    val r = new scala.util.Random(7L)
    Array.fill(6000)(Array.fill(2 + r.nextInt(3))(Syl(r.nextInt(Syl.length)))
      .mkString).distinct
  }
  /** Zipf-like word draw (heavy head, long tail), as in real text. */
  def word(r: scala.util.Random): String = {
    val u = r.nextDouble()
    Vocab(math.min(Vocab.length - 1, (math.pow(u, 2.2) * Vocab.length).toInt))
  }
  def words(r: scala.util.Random, n: Int): Seq[String] = Seq.fill(n)(word(r))

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ---------------------------------------------------------------------
  // monthly_batch: a DPLA-MAP master root
  // ---------------------------------------------------------------------

  val NumHubs = 32
  val OldTs = "20260801_120000"
  val NewTs = "20260901_120000"

  final case class Hub(idx: Int, name: String, latest: Int, stale: Int,
      files: Int)

  /** Zipf-sized hubs (exponent 0.9): the largest holds ~15% of the
    * records, the smallest a few hundred. The hub count, the exponent, the
    * 10% stale snapshot and one Avro file per 6,000 records are assumptions
    * chosen to give skewed hubs and several files per large hub, not
    * measurements of DPLA's corpus. Sizes and per-hub completeness depend
    * on the hub's rank only, so every seed gives the same volume of work;
    * the seed decides the records.
    */
  def hubs(total: Int): Seq[Hub] = {
    val w = (1 to NumHubs).map(i => 1.0 / math.pow(i, 0.9))
    w.indices.map { i =>
      val n = math.max(20, (total * w(i) / w.sum).toInt)
      Hub(i, f"hub$i%02d", n, math.max(5, n / 10), math.max(1, n / 6000))
    }
  }

  /** Per-record field presence for the 14 MQ-relevant fields. */
  final case class Presence(flags: Array[Boolean], open: Boolean)
  val FieldNames = Seq("title", "description", "creator", "type", "language",
    "spatial", "subject", "collection", "date", "standardizedRights",
    "preview", "iiifManifest", "mediaMaster")

  def presence(seed: Long, hub: Int, idx: Int, snap: Int): Presence = {
    val hr = rng(2, hub)
    // per-hub completeness: some hubs are rich, some sparse
    val p = Array.fill(FieldNames.size)(0.15 + 0.85 * hr.nextDouble())
    p(0) = 0.97
    val r = rng(seed, 3, hub, idx, snap)
    val f = p.map(r.nextDouble() < _)
    Presence(f, f(9) && r.nextDouble() < 0.5)
  }

  /** The MQ flags MqDpla scores, in [[MqScoreCols]] order (count last
    * is added separately), from the generator's own presence decisions.
    */
  val MqScoreCols = Seq("title", "description", "creator", "type",
    "language", "spatial", "subject", "collection", "date",
    "standardizedRights", "preview", "iiifManifest", "mediaMaster",
    "mediaAccess", "openRights", "wikimediaReady")
  def mqFlags(pr: Presence): Array[Int] = {
    val f = pr.flags.map(b => if (b) 1 else 0)
    val mediaAccess = if (pr.flags(11) || pr.flags(12)) 1 else 0
    val open = if (pr.open) 1 else 0
    f ++ Array(mediaAccess, open, if (mediaAccess == 1 && open == 1) 1 else 0)
  }

  def itemId(seed: Long, hub: Int, idx: Int): String =
    md5Hex(s"$seed/$hub/$idx")

  private def vw(s: String): Row = Row(s)
  private def agent(name: String): Row =
    Row(vw(s"http://example.org/agent/${name.replace(' ', '_')}"), name, null,
      null, null, Seq.empty[Row], Seq.empty[Row])
  private def webRes(uri: String): Row =
    Row(vw(uri), Seq("image/jpeg"), Seq.empty[String], null, null)
  private def concept(label: String): Row =
    Row(null, label, null, null, Seq.empty[Row], Seq.empty[Row])
  private def dateR(y: Int): Row = Row(y.toString, s"$y-01-01", s"$y-12-31")

  /** One master record. Absent fields are EMPTY arrays / null structs, as
    * SchemaRepair produces them; the generator never emits a null array.
    */
  def record(seed: Long, hub: Int, idx: Int, snap: Int): Row = {
    val pr = presence(seed, hub, idx, snap)
    val r = rng(seed, 4, hub, idx, snap)
    val id = itemId(seed, hub, idx)
    def when[A](i: Int)(a: => Seq[A]): Seq[A] = if (pr.flags(i)) a else Nil
    val nContrib = 1 + (mix(seed, 5, hub) & 7).toInt
    val contributor = s"Hub $hub Member ${r.nextInt(nContrib)}"
    val title = words(r, 3 + r.nextInt(6)).mkString(" ")
    val sr = Row(
      Seq.empty[String],
      when(7)(Seq(Row(s"Collection ${r.nextInt(50)}", null, null))),
      Seq.empty[Row],
      when(2)(Seq(agent(words(r, 2).mkString(" ")))),
      when(8)(Seq(dateR(1850 + r.nextInt(170)))),
      when(1)(Seq(words(r, 8 + r.nextInt(24)).mkString(" "))),
      Seq.empty[String],
      Seq("text"),
      Seq.empty[Row],
      Seq(s"local:$idx"),
      when(4)(Seq(concept("English"))),
      when(5)(Seq(Row(s"Place ${r.nextInt(300)}", null, null, null, "US",
        null, null, Seq.empty[Row]))),
      Seq.empty[Row],
      Seq.empty[Row],
      Seq.empty[String],
      Seq.empty[String],
      Seq.empty[String],
      Seq.empty[Row],
      when(6)(Seq.fill(1 + r.nextInt(3))(concept(word(r)))),
      Seq.empty[Row],
      when(0)(Seq(title)),
      when(3)(Seq("image")))
    val rights =
      if (!pr.flags(9)) null
      else if (pr.open) vw("http://creativecommons.org/publicdomain/mark/1.0/")
      else vw("http://rightsstatements.org/vocab/InC/1.0/")
    Row(
      vw(s"http://dp.la/api/items/$id"),
      sr,
      agent(contributor),
      Seq.empty[Row],
      null,
      webRes(s"http://example.org/$hub/item/$idx"),
      if (pr.flags(10)) webRes(s"http://example.org/$hub/thumb/$idx.jpg") else null,
      null,
      agent(s"Hub $hub"),
      rights,
      s"oai:hub$hub:$idx",
      Seq.empty[Row],
      if (pr.flags(11)) vw(s"http://example.org/$hub/iiif/$idx/manifest.json") else null,
      when(12)(Seq(webRes(s"http://example.org/$hub/media/$idx.tif"))))
  }

  final case class MasterTruth(
      latestRecords: Long,
      staleRecords: Long,
      perProvider: Map[String, Long],      // hub dir name → latest records
      mqMeans: Map[String, Array[Double]], // provider.name → means
      mqCounts: Map[String, Long],
      ids: Set[String])

  def masterTruth(seed: Long, hs: Seq[Hub]): MasterTruth = {
    val means = hs.map { h =>
      val sums = new Array[Long](MqScoreCols.size)
      (0 until h.latest).foreach { i =>
        val f = mqFlags(presence(seed, h.idx, i, 1))
        var k = 0
        while (k < f.length) { sums(k) += f(k); k += 1 }
      }
      s"Hub ${h.idx}" -> sums.map(_.toDouble / h.latest)
    }.toMap
    MasterTruth(hs.map(_.latest.toLong).sum, hs.map(_.stale.toLong).sum,
      hs.map(h => h.name -> h.latest.toLong).toMap, means,
      hs.map(h => s"Hub ${h.idx}" -> h.latest.toLong).toMap,
      hs.flatMap(h => (0 until h.latest).map(i => itemId(seed, h.idx, i))).toSet)
  }

  /** Both snapshots of every hub as ONE frame whose partition k holds
    * exactly the records of output file `files(k)` = (hub, snap, part).
    */
  private def masterFrame(spark: SparkSession, seed: Long,
      hs: Seq[Hub]): (DataFrame, Seq[(Hub, Int, Int)]) = {
    val files = for {
      snap <- Seq(0, 1); h <- hs
      part <- 0 until (if (snap == 1) h.files else 1)
    } yield (h, snap, part)
    val slices = files.map { case (h, snap, part) =>
      val n = if (snap == 1) h.latest else h.stale
      val parts = if (snap == 1) h.files else 1
      (h.idx, snap, part * n / parts, (part + 1) * n / parts)
    }
    val rows = spark.sparkContext.parallelize(slices, slices.size)
      .flatMap { case (hub, snap, lo, hi) =>
        (lo until hi).map(i => record(seed, hub, i, snap))
      }
    (spark.createDataFrame(rows, DplaMap.record), files)
  }

  /** The JSONL index line of a record: flat fields, one JSON object. */
  def jsonLine(seed: Long, hub: Int, idx: Int, snap: Int): String = {
    val rec = record(seed, hub, idx, snap)
    val sr = rec.getStruct(1)
    def q(x: String) = if (x == null) "null" else "\"" + x + "\""
    def arr(i: Int) = sr.getSeq[String](i).map(q).mkString("[", ",", "]")
    val rights = Option(rec.getStruct(9)).map(_.getString(0)).orNull
    s"""{"id":${q(rec.getStruct(0).getString(0))},"provider":${q(rec.getStruct(8).getString(1))},""" +
      s""""dataProvider":${q(rec.getStruct(2).getString(1))},"title":${arr(20)},""" +
      s""""description":${arr(5)},"rights":${q(rights)}}"""
  }

  /** Writes `root/<hub>/{enrichment,jsonl}/<ts>-<hub>-.../` for an old
    * (smaller, stale) and a new snapshot of every hub. The Avro goes
    * through the program's public AvroSource.write, ONE write with one
    * partition per output file, each part file then moved into its hub's
    * snapshot directory (per-hub writes would spend most of the set-up on
    * 64 small jobs). JSONL is one record per line.
    */
  def writeMaster(spark: SparkSession, seed: Long, root: String,
      hs: Seq[Hub]): Unit = {
    val staging = s"$root/_staging"
    val (df, files) = masterFrame(spark, seed, hs)
    AvroSource.write(df, staging)
    files.zipWithIndex.foreach { case ((h, snap, part), k) =>
      val ts = if (snap == 1) NewTs else OldTs
      val dir = new java.io.File(
        s"$root/${h.name}/enrichment/$ts-${h.name}-MAP4_0.EnrichRecord.avro")
      dir.mkdirs()
      val src = new java.io.File(staging, f"part-$k%05d.avro")
      require(src.renameTo(new java.io.File(dir, f"part-$part%05d.avro")),
        s"cannot move $src")
    }
    Main.rm(staging)
    Par.run(hs.flatMap(h => Seq(0, 1).map { snap => () =>
      val ts = if (snap == 1) NewTs else OldTs
      val dir = new java.io.File(s"$root/${h.name}/jsonl/$ts-${h.name}-MAP3_1.IndexRecord.jsonl")
      dir.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(dir, "part-00000.jsonl"), "UTF-8")
      try (0 until (if (snap == 1) h.latest else h.stale))
        .foreach(i => w.println(jsonLine(seed, h.idx, i, snap)))
      finally w.close()
    }))
  }

  // ---------------------------------------------------------------------
  // curation_chain: two monthly snapshots of a text corpus
  // ---------------------------------------------------------------------

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** A document that passes curation's default gate: 40-90 non-stopword
    * tokens, English. The leading marker token makes it unique.
    */
  def goodText(seed: Long, key: Long): String = {
    val r = rng(seed, 10, key)
    (s"m${java.lang.Long.toHexString(mix(seed, 11, key) & 0xffffffffffL)}" +:
      words(r, 40 + r.nextInt(50))).mkString(" ")
  }
  /** Too short for the 30-token gate. */
  def shortText(seed: Long, key: Long): String = {
    val r = rng(seed, 12, key)
    words(r, 5 + r.nextInt(15)).mkString(" ")
  }
  /** One token replaced: a near duplicate (3-shingle Jaccard ≈ 0.9). */
  def cosmetic(seed: Long, text: String, key: Long): String = {
    val t = text.split(" ")
    val r = rng(seed, 13, key)
    val i = 1 + r.nextInt(t.length - 1)
    t(i) = "edit" + Vocab(r.nextInt(Vocab.length))
    t.mkString(" ")
  }
  /** Most tokens rewritten: a material change. */
  def material(seed: Long, text: String, key: Long): String = {
    val t = text.split(" ")
    val r = rng(seed, 14, key)
    (t.head +: t.tail.map(w => if (r.nextDouble() < 0.7) word(r) else w))
      .mkString(" ")
  }

  final case class Doc(id: Long, text: String, lang: String)

  def frame(spark: SparkSession, docs: Seq[Doc], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.text, d.lang)), parts), DocSchema)

  /** Month 0 is a raw corpus: unique good documents, exact-duplicate
    * classes (one hot class holding 4% of the corpus), near-duplicate
    * pairs, short and off-language documents, and documents embedding a
    * 12-token span of an eval document (planted contamination). Month 1
    * removes some unique documents, edits some materially and some
    * cosmetically, and adds fresh documents, exact copies of indexed
    * documents (half of them copies of ONE document: a hot fingerprint in
    * the increment) and near copies.
    *
    * The shares are assumptions, not measured from a real corpus: 5%
    * short, 3% off-language, 6% of draws start an exact-duplicate class
    * of 2-4 copies, 6% a near-duplicate pair, 0.5% a planted overlap; the
    * hot class is 4% of month 0; each kind of month-1 churn is 2.5% of
    * month 0.
    */
  final case class ChainInputs(month0: Seq[Doc], month1: Seq[Doc],
      eval: Seq[Doc], added: Long, changed: Long, removed: Long,
      exactCopyIds: Set[Long], freshIds: Set[Long], materialIds: Set[Long],
      planted: Set[Long], rejected: Set[Long], hotClass: Int,
      hotCopies: Int)

  def chain(seed: Long, n0: Int): ChainInputs = {
    val r = rng(seed, 30)
    val eval = (0 until 40).map(i =>
      Doc(9000000L + i, goodText(seed, 9000000L + i), "en"))
    var next = 1L
    def nid(): Long = { val i = next; next += 1; i }
    val out = Seq.newBuilder[Doc]
    val unique = Seq.newBuilder[Doc]
    val planted = Set.newBuilder[Long]
    val rejected = Set.newBuilder[Long]
    val hotText = goodText(seed, -1L)
    val hot = (0 until n0 / 25).map(_ => nid())
    hot.foreach(id => out += Doc(id, hotText, "en"))
    var made = hot.size
    while (made < n0) {
      val id = nid()
      val u = r.nextDouble()
      if (u < 0.05) {
        out += Doc(id, shortText(seed, id), "en"); rejected += id; made += 1
      } else if (u < 0.08) {
        out += Doc(id, goodText(seed, id), "fr"); rejected += id; made += 1
      } else if (u < 0.14) {
        val t = goodText(seed, id)
        val ids = id +: Seq.fill(1 + r.nextInt(3))(nid())
        ids.foreach(i => out += Doc(i, t, "en")); made += ids.size
      } else if (u < 0.20) {
        val t = goodText(seed, id)
        out += Doc(id, t, "en")
        val j = nid()
        out += Doc(j, cosmetic(seed, t, j), "en"); made += 2
      } else if (u < 0.205) {
        val e = eval(r.nextInt(eval.size)).text.split(" ")
        val s = 1 + r.nextInt(e.length - 13)
        val base = goodText(seed, id).split(" ")
        out += Doc(id, (base.take(20) ++ e.slice(s, s + 12) ++ base.drop(20))
          .mkString(" "), "en")
        planted += id; made += 1
      } else {
        val d = Doc(id, goodText(seed, id), "en")
        out += d; unique += d; made += 1
      }
    }
    val month0 = out.result()
    val pool = r.shuffle(unique.result())
    val churn = math.max(4, n0 / 40)
    val removed = pool.take(churn).map(_.id).toSet
    val materialD = pool.slice(churn, 2 * churn)
    val cosmeticD = pool.slice(2 * churn, 3 * churn)
    val edited = (materialD.map(d => d.id -> material(seed, d.text, d.id)) ++
      cosmeticD.map(d => d.id -> cosmetic(seed, d.text, d.id))).toMap
    val srcs = pool.drop(3 * churn)
    val fresh = (0 until churn).map(i => 3000000L + i)
      .map(id => Doc(id, goodText(seed, id), "en"))
    val hotCopies = churn / 2
    val exact = (0 until churn).map { i =>
      Doc(4000000L + i, if (i < hotCopies) srcs(0).text else srcs(i).text, "en")
    }
    val near = (0 until churn).map(i =>
      Doc(5000000L + i, cosmetic(seed, srcs(churn + i).text, 5000000L + i), "en"))
    val month1 = month0.filterNot(d => removed(d.id))
      .map(d => edited.get(d.id).fold(d)(t => d.copy(text = t))) ++
      fresh ++ exact ++ near
    ChainInputs(month0, month1, eval,
      added = fresh.size + exact.size + near.size,
      changed = edited.size, removed = removed.size,
      exactCopyIds = exact.map(_.id).toSet, freshIds = fresh.map(_.id).toSet,
      materialIds = materialD.map(_.id).toSet, planted = planted.result(),
      rejected = rejected.result(), hotClass = hot.size, hotCopies = hotCopies)
  }
}

/** Runs independent Spark actions on a small thread pool (local mode runs
  * them concurrently), failing if any fails.
  */
object Par {
  def run(fs: Seq[() => Unit], threads: Int = 4): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = fs.map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = f()
      }))
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}
