package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic spherical k-means over an embedding column ([EXT]): the
  * clustering step an embedding-curation pipeline runs for SemDeDup-style
  * cluster-then-keep dedup, balanced-domain sampling, and IVF coarse
  * quantizers — expressed so every step is replayable by an independent
  * engine (the DuckDB oracle recomputes the identical fit).
  *
  * Determinism contract (the [[Sampling]] fitted-operator posture):
  *  - INIT: the `k` vectors with the smallest md5 draw over `"km " + id`
  *    (ties to the smaller id); cluster index = rank in that order.
  *  - ASSIGN: argmax cosine similarity, rounded to 6 decimals BEFORE the
  *    argmax, ties to the smaller cluster id — so engines summing the
  *    dot product in different orders still pick the same cluster.
  *  - UPDATE: per-dimension mean (graft_vector_avg, map-side combined),
  *    rounded to 6 decimals; a cluster that receives no points keeps its
  *    previous centroid.
  *  - fixed `iters` Lloyd rounds — no data-dependent convergence test, so
  *    the oracle can unroll the exact same number of rounds.
  *
  * Scale shape: each round is one narrow assignment pass (centroids ride
  * the plan as literals inside codegen'd graft_cosine — k·dim doubles,
  * broadcast-free) plus one map-side-combined aggregation whose output is
  * k rows; the only driver traffic is the k×dim centroid collect per
  * round. The corpus never shuffles. `require(k <= 10000)` bounds the
  * literal table and the collect.
  */
object Clustering {

  /** Fit centroids. Returns cluster → centroid (index = cluster id). */
  def kmeansFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): Array[Array[Double]] = {
    require(k > 0 && k <= 10000, s"k must be in (0, 10000], got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        graft.functions.VectorFunctions.asDouble(col(vecCol)).as("__v"))
    // deterministic seeds: smallest md5 draw wins, rank = cluster id
    var centroids: Array[Array[Double]] = e
      .orderBy(Sampling.md5Draw(col("__id"), "km "), col("__id"))
      .limit(k)
      .select(col("__v"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(centroids.nonEmpty, "kmeansFit: no non-null vectors")
    var it = 0
    while (it < iters) {
      val updated = withCluster(e, centroids)
        .groupBy(col("cluster"))
        .agg(expr("graft_vector_avg(__v)").as("c"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Double](1).toArray.map(round6))
        .toMap
      // empty clusters keep their previous centroid (deterministic)
      centroids = centroids.indices
        .map(i => updated.getOrElse(i, centroids(i))).toArray
      it += 1
    }
    centroids
  }

  /** (id, cluster, sim) for every non-null vector under fixed centroids;
    * `sim` is the cosine to the assigned centroid rounded to 4 decimals
    * (the cross-engine output contract — 6 decimals internally for the
    * argmax).
    */
  def assign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "assign: empty centroid table")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        graft.functions.VectorFunctions.asDouble(col(vecCol)).as("__v"))
    withCluster(e, centroids)
      .select(col("__id").as(idCol), col("cluster"),
        round(col("__sim"), 4).as("sim"))
  }

  /** Fit then assign — the one-call form the q_kmeans query uses. */
  def kmeansFitAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int): DataFrame =
    assign(df, idCol, vecCol, kmeansFit(df, idCol, vecCol, k, iters))

  /** SemDeDup over k-means cells (Abbas et al. 2023 shape): fit k
    * clusters, then within each cluster drop every point whose cosine to
    * a LOWER-id point of the same cluster reaches `tau`. The pairwise
    * (non-transitive) rule keeps both the plan and the oracle pure joins
    * — no iterative closure — and the cluster key is the scale move:
    * candidate pairs are Σ|cell|² instead of n², with `maxClusterSize`
    * failing fast on a degenerate fit instead of letting one cell go
    * quadratic. Returns (idCol, cluster, kept 1/0) for every non-null
    * vector.
    *
    * [[Similarity.semanticDedupCells]] is the cheaper one-pass variant
    * (hyperplane cells, exact-cell keeper); this one trades a fit pass
    * for real similarity verification inside learned cells.
    */
  def semDeDupKmeans(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      tau: Double,
      maxClusterSize: Long = 100000L): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"tau out of [-1,1]: $tau")
    val centroids = kmeansFit(df, idCol, vecCol, k, iters)
    graft.plans.GraftFunctions.register(df.sparkSession)
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"),
        graft.functions.VectorFunctions.asDouble(col(vecCol)).as("__v"))
    val asg = withCluster(e, centroids)
      .select(col("__id"), col("cluster"), col("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val biggest = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
    require(biggest <= maxClusterSize,
      s"largest cluster has $biggest members (> $maxClusterSize) — the " +
        "within-cluster verify would go quadratic; raise k or the cap")
    val b = asg.select(col("__id").as("__bid"),
      col("cluster").as("__bcluster"), col("__v").as("__bv"))
    val dups = asg.join(b,
        col("cluster") === col("__bcluster") && col("__bid") < col("__id") &&
          round(call_function("graft_cosine", col("__v"), col("__bv")), 6)
            >= lit(tau),
        "left_semi")
      .select(col("__id"), lit(0L).as("__dup0"))
    asg.join(dups, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        coalesce(col("__dup0"), lit(1L)).as("kept"))
  }

  /** Adds `cluster` (long) + `__sim` via the max-struct argmax: struct
    * comparison orders by (sim, -cluster), so the max is the highest
    * 6-decimal-rounded similarity with ties to the SMALLEST cluster id —
    * one codegen'd expression per centroid, no join, no shuffle.
    */
  private def withCluster(
      e: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        round(call_function("graft_cosine",
          col("__v"), typedLit(c.toSeq)), 6).as("s"),
        lit(-i).as("nc"))
    }
    val best = array_max(array(scored: _*))
    e.withColumn("cluster", (-best.getField("nc")).cast("long"))
      .withColumn("__sim", best.getField("s"))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
