package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Curation, IncrementalAnn, IvfPq,
  PersistedTable}
import graft.processes.DeltaCurate

/** One crash-window matrix over every persisted-table family: for the
  * delta fp/sig indexes, the IVF index and the IVF-PQ codes table, each
  * window a crashed rewrite can leave behind is planted on the family's
  * tables, and the family's compaction is rerun. The rerun must land the
  * clean compaction's counts and rows and leave no residue.
  */
class PersistedTableSpec extends SparkSpec {

  import spark.implicits._

  /** `build` stands up a fresh index with something to compact;
    * `compact` runs the family's compaction and returns its counts.
    */
  private case class Family(name: String, tables: Seq[String],
      sidecars: Seq[String], build: () => Unit, compact: () => Any)

  private def fresh(f: Family): Unit =
    (f.tables.flatMap(PersistedTable.names) ++ f.sidecars).foreach(dropTable)

  private def doc(i: Int) = (1 to 35).map(k => s"w${i}t$k").mkString(" ")

  private lazy val docs = (1 to 6).map(i => (i.toLong, doc(i), "en"))
    .toDF("doc_id", "text", "lang")

  private lazy val vecs: DataFrame = (0 until 40).map { i =>
      (i.toLong,
        (0 until 8).map(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")

  private lazy val coarse =
    Clustering.kmeansFit(vecs, "vec_id", "embedding", 4, 2)

  private lazy val codebooks =
    IvfPq.fit(vecs, "vec_id", "embedding", coarse, m = 2, k = 4, iters = 2)

  private lazy val deleted = Seq(3L, 13L, 999L).toDF("vec_id")

  private val families = Seq(
    Family("DeltaCurate fp/sig", Seq("pt_fp", "pt_sig"), Nil,
      () => DeltaCurate.run(docs.limit(0), docs, "doc_id", "text", "lang",
        Curation.Config(minTokens = 30, maxStopRatio = 1.0,
          langs = Seq("en")),
        "pt_fp", "pt_sig", buckets = 4),
      () => DeltaCurate.compact(docs.filter(col("doc_id") <= 4), "doc_id",
        "text", "pt_fp", "pt_sig", buckets = 4)),
    Family("IncrementalAnn index", Seq("pt_ann"),
      Seq(IncrementalAnn.centroidsTableName("pt_ann"),
        IncrementalAnn.tombstonesTableName("pt_ann")),
      () => {
        IncrementalAnn.append(vecs, "vec_id", "embedding", "pt_ann",
          nCells = 4)
        IncrementalAnn.deleteIds(deleted, "vec_id", "pt_ann")
      },
      () => IncrementalAnn.compact(spark, "pt_ann")),
    Family("IvfPq codes table", Seq("pt_pq"),
      Seq(IvfPq.modelsTableName("pt_pq"), IvfPq.tombstonesTableName("pt_pq")),
      () => {
        IvfPq.persistIndex(vecs, "vec_id", "embedding", coarse, codebooks,
          "pt_pq")
        IvfPq.deletePersisted(deleted, "vec_id", "pt_pq")
      },
      () => IvfPq.compactPersisted(spark, "pt_pq")))

  private def managedPath(table: String): Path = Paths.get(
    spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))

  private def rename(from: String, to: String): Unit = {
    spark.sql(s"ALTER TABLE $from RENAME TO $to"); ()
  }

  /** Every window of the shared rewrite, planted on one table. */
  private val windows: Seq[(String, String => Unit)] = Seq(
    "half-written sibling" -> { t =>
      spark.table(t).limit(1).write.saveAsTable(PersistedTable.sibling(t))
    },
    "between the two renames" -> { t =>
      spark.table(t).limit(1).write.saveAsTable(PersistedTable.sibling(t))
      rename(t, PersistedTable.aside(t))
    },
    "stray aside copy after the swap" -> { t =>
      spark.table(t).write.saveAsTable(PersistedTable.aside(t))
    },
    "entry-less sibling directory" -> { t =>
      val dir = managedPath(PersistedTable.sibling(t))
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-00000-crashed.parquet"),
        "half-written".getBytes("UTF-8"))
      ()
    })

  private def content(f: Family): Seq[Set[String]] =
    f.tables.map(t => spark.table(t).collect().map(_.toString).toSet)

  for (f <- families) {
    test(s"${f.name}: compact after every crash window of the shared " +
      "rewrite lands the clean compaction") {
      fresh(f)
      f.build()
      val clean = f.compact()
      val cleanRows = content(f)
      for ((window, plant) <- windows) {
        fresh(f)
        f.build()
        f.tables.foreach(plant)
        assert(f.compact() === clean, s"counts after: $window")
        assert(content(f) === cleanRows, s"rows after: $window")
        f.tables.foreach { t =>
          Seq(PersistedTable.sibling(t), PersistedTable.aside(t)).foreach {
            r =>
              assert(!spark.catalog.tableExists(r), s"$r left by: $window")
              assert(!Files.exists(managedPath(r)),
                s"$r dir left by: $window")
          }
        }
        // the ANN families' tombstones are applied and cleared
        f.sidecars.filter(_.endsWith("tombstones")).foreach { s =>
          assert(!spark.catalog.tableExists(s), s"$s kept after: $window")
        }
      }
      fresh(f)
    }
  }
}
