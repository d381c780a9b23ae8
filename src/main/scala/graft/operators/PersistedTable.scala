package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle of a persisted, bucketed index table — the one copy of
  * the write-aside, swap, recovery and tombstone rules shared by the
  * delta fp/sig indexes ([[graft.processes.DeltaCurate]]), the IVF index
  * ([[IncrementalAnn]]) and the IVF-PQ codes table ([[IvfPq]]).
  *
  * A rewrite never touches the live table `t` before its replacement is
  * complete: the replacement is written under [[sibling]]`(t)`, then
  * [[swapIn]] renames `t` to [[aside]]`(t)`, the sibling to `t`, and
  * drops the aside copy. At every instant a complete copy exists under a
  * recoverable name, and [[recover]] — which every writer runs first —
  * rolls any crash window back:
  *  - sibling present → the swap never committed and the sibling may be
  *    half-written: drop it;
  *  - aside copy next to a live `t` → the swap committed but died before
  *    its final drop: drop the aside copy;
  *  - aside copy and no live `t` → the swap died between its renames:
  *    restore the aside copy.
  * Single writer per table. A concurrent reader can transiently miss the
  * live name between the two renames, but never reads a half-written
  * table.
  *
  * Tombstones are a sidecar table of pending logical deletes (one `id
  * BIGINT` column): [[appendTombstones]] adds ids, [[notTombstoned]]
  * filters them out at read time, and [[compact]] applies them in the
  * rewrite and clears the sidecar after the swap commits.
  */
private[graft] object PersistedTable {

  private val SiblingSuffix = "__rebuild"
  private val AsideSuffix = "__old"

  /** Where a rewrite writes `table`'s replacement before the swap. */
  def sibling(table: String): String = table + SiblingSuffix

  /** Where the swap parks the outgoing `table` until it commits. */
  def aside(table: String): String = table + AsideSuffix

  /** Every name `table`'s lifecycle can occupy. */
  def names(table: String): Seq[String] =
    Seq(table, sibling(table), aside(table))

  private def exists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  private def rename(spark: SparkSession, from: String, to: String): Unit = {
    spark.sql(s"ALTER TABLE $from RENAME TO $to"); ()
  }

  /** Roll back whatever crash window a previous writer of `table` left
    * (see the object scaladoc). Idempotent; a handful of catalog probes
    * on a healthy table. Returns whether the live table exists after
    * recovery.
    */
  def recover(spark: SparkSession, table: String): Boolean = {
    if (exists(spark, sibling(table))) drop(spark, sibling(table))
    if (exists(spark, aside(table))) {
      if (exists(spark, table)) drop(spark, aside(table))
      else rename(spark, aside(table), table)
    }
    exists(spark, table)
  }

  /** Write `table`'s replacement under its sibling name. A crashed
    * writer's sibling is dropped first, catalog entry AND directory: an
    * entry-less leftover directory would fail the managed create with
    * LOCATION_ALREADY_EXISTS.
    */
  def writeSibling(spark: SparkSession, table: String)(
      write: String => Unit): Unit = {
    drop(spark, sibling(table))
    write(sibling(table))
  }

  /** Swap the complete sibling in for `table`. Resumable: from the state
    * between the two renames (live name missing, aside copy present) it
    * finishes the swap, which is how a coupled pair rolls forward.
    */
  def swapIn(spark: SparkSession, table: String): Unit = {
    if (exists(spark, table)) rename(spark, table, aside(table))
    rename(spark, sibling(table), table)
    drop(spark, aside(table))
  }

  /** Rewrite the bucketed `table` through `keep` under the same bucket
    * spec — sibling write, then swap — and return the rewritten row
    * count. Fails with a message naming recovery when neither the live
    * table nor its aside copy exists.
    *
    * One file per bucket: `repartition(buckets, bucketCol)` is the
    * bucket-id mapping, and over the table's own bucketed scan the
    * planner elides it, so task i holds exactly bucket i. With the
    * default autoBucketedScan the planner would then disable the
    * bucketed scan (nothing in the query needs its partitioning — the
    * write is a separate execution) and every bucket would fragment into
    * several files; the scan is pinned bucketed for this one write. That
    * conf is session-global and restored afterwards: single writer per
    * session, like [[graft.processes.DeltaCurate.run]]'s AQE exclusion.
    *
    * The row count is an `Observation` on the rewrite job, not a second
    * scan of the written table.
    */
  def rewrite(spark: SparkSession, table: String, buckets: Int,
      bucketCol: String)(keep: DataFrame => DataFrame): Long = {
    require(recover(spark, table),
      s"$table does not exist and there is no ${aside(table)} copy to " +
        "recover from")
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.getOption(autoKey)
    val n = Observation()
    spark.conf.set(autoKey, "false")
    try writeSibling(spark, table) { name =>
      keep(spark.table(table))
        .repartition(buckets, col(bucketCol))
        .observe(n, count(lit(1)).as("n"))
        .write.mode("overwrite")
        .bucketBy(buckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(name)
    } finally prevAuto match {
      case Some(v) => spark.conf.set(autoKey, v)
      case None => spark.conf.unset(autoKey)
    }
    swapIn(spark, table)
    n.get("n").asInstanceOf[Long]
  }

  /** [[rewrite]] with the pending tombstones in `tombTable` applied
    * first (an un-hinted anti-join on `idCol`: the rewrite reads every
    * row anyway, so a tombstone set too large to broadcast just
    * shuffles), then the sidecar cleared. The clear comes after the swap
    * commits: a crash in between leaves tombstones naming ids that are
    * already gone, a no-op the next compact clears.
    */
  def compact(spark: SparkSession, table: String, tombTable: String,
      idCol: String, buckets: Int, bucketCol: String)(
      keep: DataFrame => DataFrame): Long = {
    val n = rewrite(spark, table, buckets, bucketCol)(scan =>
      keep(withoutTombstones(scan, idCol, tombTable)))
    drop(spark, tombTable)
    n
  }

  /** Logical delete: append the distinct ids to the tombstone sidecar.
    * Cost is proportional to the delete batch; the index never moves.
    * At-least-once: a blind retry writes duplicate tombstones, which
    * change nothing.
    */
  def appendTombstones(ids: DataFrame, idCol: String,
      tombTable: String): Unit =
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1)
      .write.mode("append")
      .saveAsTable(tombTable)

  /** The read-time tombstone filter: anti-join `df`'s `idCol` against the
    * sidecar, broadcast so the index scan never shuffles. The sidecar's
    * size is gated fail-closed at `maxTombstones`; past it the fix is
    * `compactOp`, which applies and clears the tombstones.
    */
  def notTombstoned(df: DataFrame, idCol: String, tombTable: String,
      maxTombstones: Long, compactOp: String): DataFrame =
    if (!exists(df.sparkSession, tombTable)) df
    else {
      val tomb = df.sparkSession.table(tombTable)
      Similarity.requireBroadcastable(tomb, maxTombstones,
        s"tombstone sidecar $tombTable (query-time deletes broadcast " +
          "against the index scan)",
        s"$compactOp — it applies the tombstones physically and clears them")
      df.join(broadcast(tomb.select(col("id").as("__del"))),
        col(idCol) === col("__del"), "left_anti")
    }

  /** The rewrite-time tombstone filter: the same anti-join, un-hinted. */
  def withoutTombstones(df: DataFrame, idCol: String,
      tombTable: String): DataFrame =
    if (!exists(df.sparkSession, tombTable)) df
    else df.join(df.sparkSession.table(tombTable).select(col("id").as("__del")),
      col(idCol) === col("__del"), "left_anti")

  /** Drop a table AND its storage dir (a crash can leave the dir behind
    * with no catalog entry, poisoning the next managed-table create with
    * LOCATION_ALREADY_EXISTS).
    *
    * The dir is resolved from the catalog, never built from the
    * warehouse path: a database-qualified `db.tbl` lives under
    * `db.db/tbl`, and a custom warehouse layout anywhere. While the entry
    * exists its `location` is read from the metadata (before the drop);
    * for an entry-less leftover dir the catalog's `defaultTablePath`
    * gives the would-be managed location.
    *
    * EXTERNAL tables are dropped catalog-only: their data is not ours to
    * delete, and a caller-supplied name may be an external table over
    * shared data.
    */
  def drop(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val parsed = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val ident = parsed.copy(database =
      parsed.database.orElse(Some(catalog.getCurrentDatabase)))
    val meta =
      if (catalog.tableExists(ident)) Some(catalog.getTableMetadata(ident))
      else None
    val external = meta.exists(_.tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
    val loc = new org.apache.hadoop.fs.Path(
      meta.map(_.location).getOrElse(catalog.defaultTablePath(ident)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    if (!external) {
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
  }
}
