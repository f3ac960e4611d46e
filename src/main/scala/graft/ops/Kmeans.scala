package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.plans.GraftExtensions

/**
 * Distributed k-means (cosine/spherical) + IVF approximate nearest
 * neighbor — the scale path for embedding search: train `nlist` coarse
 * centroids once, assign the corpus, and probe only the `nprobe`
 * nearest inverted lists per query instead of the whole corpus.
 *
 * Everything per iteration is one broadcast-scored scan + one
 * (centroid-count-sized) aggregate — Lloyd's algorithm as Spark
 * physics; nothing data-sized ever reaches the driver.
 */
object Kmeans {

  private def cosineCol(df: DataFrame)(a: Column, b: Column): Column =
    Similarity.nativeCosine(df)(a, b)

  /** Deterministic init: the first `k` vectors under id order. */
  def initCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    corpus.orderBy(col(idCol)).limit(k)
      .select((row_number().over(Window.orderBy(col(idCol))) - 1).cast("long").as("centroid_id"),
        col(vecCol).as("cvec"))

  /**
   * Lloyd iterations under cosine distance: assign each vector to the
   * most-similar centroid (broadcast), recompute each centroid as the
   * element-wise mean of its members, L2-normalize. `iters` scans total.
   */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    iterate(initCentroids(corpus, idCol, vecCol, k), "kmeans", iters) { (centroids, _) =>
      val assigned = assign(corpus, vecCol, centroids)
      // element-wise mean via posexplode + regroup: (centroid, dim) keys —
      // one shuffle keyed by centroid×dimension, never driver-side
      val sums = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
      val means = sums.groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pairs"))
        .select(col("centroid_id"),
          transform(col("pairs"), p => p.getField("m").cast("float")).as("mvec"))
      // L2-normalize so cosine against unit centroids is a plain dot;
      // a centroid whose cluster emptied keeps its previous position
      // (standard Lloyd's fix — k never silently shrinks). A zero mean
      // vector (mutually-cancelling members) is treated the same way:
      // guarded, because ANSI divide would abort the whole iteration on
      // its 0/0 instead of degenerating gracefully
      val norm = sqrt(aggregate(col("mvec"),
        lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
      val updated = means.select(col("centroid_id"),
        when(norm > 0.0, transform(col("mvec"),
          x => (x.cast("double") / norm).cast("float"))).as("__new__"))
      Some(centroids.join(updated, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("__new__"), col("cvec")).as("cvec")))
    }
  }

  /** Nearest-centroid assignment — delegates to
    * [[Similarity.assignCentroid]] (broadcast array argmax fold: zero
    * corpus shuffles, duplicate-row-safe by construction since no
    * window/groupBy is involved). */
  def assign(corpus: DataFrame, vecCol: String, centroids: DataFrame): DataFrame =
    Similarity.assignCentroid(corpus, vecCol, centroids, "centroid_id", "cvec")

  /**
   * IVF top-k: score queries against centroids (tiny), keep `nprobe`
   * lists per query, then join query↔corpus on the centroid id — the
   * scan touches only the probed lists' rows; exact re-ranking inside.
   */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val assigned = assign(corpus, corpusVec, centroids)
    val qProbes = queries.crossJoin(broadcast(centroids))
      .withColumn("__qsim__", cosineCol(queries)(col(queryVec), col("cvec")))
      .withColumn("__qrk__", row_number().over(
        Window.partitionBy(col(queryId)).orderBy(col("__qsim__").desc, col("centroid_id").asc)))
      .filter(col("__qrk__") <= nprobe)
      .select(col(queryId), col(queryVec), col("centroid_id"))
    val candidates = assigned.join(qProbes, "centroid_id")
      .withColumn("cosine", cosineCol(corpus)(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId).asc)
    candidates.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("__rk__").cast("long").as("rank"))
  }

  /**
   * Two-level (coarse-quantizer) nearest-centroid assignment — the scale
   * path for centroid counts that GROW with the corpus (SemDeDup / IVF
   * tuning: k ≈ n / cluster size). Exact [[assign]] scores n·k cosines,
   * which turns quadratic in n once k tracks n; following the faiss
   * IVF-on-centroids design, the centroid table is itself clustered into
   * `coarseK` (≈ √k) groups — k·√k work on the TINY table — and each
   * corpus vector scores only the √k coarse vectors (broadcast fold,
   * top-`nProbe` groups kept per row) plus the centroids inside its
   * probed groups (broadcast equi-join + max_by). Total ≈
   * n·(√k + nProbe·k/√k) cosines ≈ O(n·√k) — linear again when k ∝ n.
   *
   * Approximate only at coarse-group boundaries (raise nProbe to trade
   * cosines for recall; nProbe ≥ coarseK reproduces the exact argmax by
   * construction — pinned in KmeansSpec). Tie rule matches
   * [[Similarity.assignCentroid]]: sim desc, centroid id asc. Vectors
   * whose every candidate cosine is NaN (zero norm) get no row —
   * callers treat missing assignment as "no cluster", the same
   * never-a-duplicate outcome the exact path's NaN guard produces.
   *
   * Returns (idCol, vecCol, centroid_id).
   */
  def assignTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, coarseK: Int, nProbe: Int = 2): DataFrame = {
    require(coarseK >= 1 && nProbe >= 1, s"need coarseK/nProbe >= 1: $coarseK/$nProbe")
    GraftExtensions.register(corpus.sparkSession)
    val coarse = train(centroids.select(col("centroid_id").as("__cid0__"),
      col("cvec").as("__cv0__")), "__cid0__", "__cv0__", coarseK, iters = 2)
      .select(col("centroid_id").as("__gid__"), col("cvec").as("__gvec__"))
    // centroid -> coarse group (k·coarseK cosines on the small table)
    val grouped = Similarity.assignCentroid(
      centroids.select(col("centroid_id").as("__cid__"), col("cvec").as("__cvec__")),
      "__cvec__", coarse, "__gid__", "__gvec__")
      .select(col("centroid_id").as("__g__"), col("__cid__"), col("__cvec__"))
    // corpus vector -> top-nProbe coarse groups via one broadcast fold:
    // sort key struct(-sim, gid) makes plain ascending array_sort mean
    // (sim desc, gid asc); NaN (-NaN = NaN) sorts last, so defined
    // similarities always probe first
    val packed = coarse.agg(collect_list(struct(col("__gid__"), col("__gvec__"))).as("__cl__"))
    val scored = transform(col("__cl__"), c => struct(
      (-call_function("graft_cosine", col(vecCol), c.getField("__gvec__"))).as("ns"),
      c.getField("__gid__").as("gid")))
    val probes = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(packed))
      .withColumn("__probe__", explode(
        slice(array_sort(scored), 1, nProbe)))
      .select(col(idCol), col(vecCol), col("__probe__").getField("gid").as("__g__"))
    // rerank inside the probed groups; max(struct) picks sim desc then
    // smallest centroid id (negated id field) — the exact tie rule
    probes.join(broadcast(grouped), Seq("__g__"))
      .withColumn("__sim__",
        call_function("graft_cosine", col(vecCol), col("__cvec__")))
      .filter(!isnan(col("__sim__")) && col("__sim__").isNotNull)
      .groupBy(col(idCol))
      .agg(first(col(vecCol)).as(vecCol),
        max(struct(col("__sim__").as("s"), (-col("__cid__")).as("nc"),
          col("__cid__").as("c"))).getField("c").as("centroid_id"))
  }
}
