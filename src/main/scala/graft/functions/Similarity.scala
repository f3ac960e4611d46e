package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/**
 * Embedding similarity search over `Array[Float]` columns.
 *
 * Everything here is pure Catalyst expressions (`zip_with` / `aggregate`) —
 * codegen'd, no UDFs — so similarity scans parallelize as maps and the only
 * shuffles are the explicitly chosen ones (bucket join for LSH, top-k
 * aggregation).
 */
object Similarity {

  /** Dot product of two array columns, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. A zero vector yields NaN (its 0/0), exactly like
    * the native CosineSim expression's Java division — a bare Column `/`
    * would instead abort the job with ANSI DIVIDE_BY_ZERO on the first
    * degenerate embedding. Nulls propagate; nonzero inputs take the
    * plain (bit-identical) divide. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val den = norm(a) * norm(b)
    when(den =!= 0.0, d / den).otherwise(when(d.isNotNull, lit(Double.NaN)))
  }

  /** Native codegen'd cosine (graft.plans.CosineSim) — bit-identical to
    * [[cosine]] on array<float> inputs, one fused loop instead of three
    * lambda trees. Registers the function on the frame's session. */
  private[graft] def nativeCosine(df: DataFrame)(a: Column, b: Column): Column = {
    GraftExtensions.register(df.sparkSession)
    call_function("graft_cosine", a, b)
  }

  /**
   * Brute-force cosine top-k against a (small) query set: broadcast the
   * queries, score every corpus row, keep k per query with a rank-filter
   * window — per-query partial top-k, no global sort. The 100 TB baseline:
   * one scan of the corpus, zero corpus shuffles before the final
   * (tiny, k-per-query) rank filter.
   *
   * The query set is broadcast, so it MUST be small: `maxQueries` caps it
   * (same valve as `Frame.transpose`'s maxCells) — a clear error beats a
   * driver OOM. For large query sets use [[topKLsh]].
   */
  def topKBruteForce(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, maxQueries: Long = 100000L): DataFrame = {
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"topKBruteForce broadcasts the query set: $nQ rows > maxQueries=$maxQueries; " +
        "raise maxQueries explicitly or use topKLsh")
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", nativeCosine(corpus)(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId).asc)
    scored.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("__rk__").cast("long").as("rank"))
  }

  /** Sign-of-projection bits for `nPlanes` random hyperplanes (seeded by
    * `table` so each hash table draws independent planes), packed into a
    * long bucket id — the random-hyperplane LSH for cosine similarity.
    * Computed by the native [[graft.plans.LshBucketKernel]] (one fused
    * multiply-add loop per plane over a memoized component table) —
    * bit-identical to the lambda-tree formulation it replaced, which
    * interpreted a `sequence`+`zip_with`+`aggregate` fold per plane per
    * row (CodegenFallback) and is kept in LshBucketParitySpec as the
    * executable spec. */
  def lshBucket(vec: Column, nPlanes: Int, table: Int = 0): Column = {
    GraftExtensions.register(org.apache.spark.sql.SparkSession.active)
    call_function("graft_lsh_xx", vec, lit(nPlanes), lit(table * nPlanes))
  }

  /** ENGINE-PORTABLE random-hyperplane bucket — the independently
    * checkable twin of [[lshBucket]]. Plane components are ±1 signs drawn
    * from md5(plane + ":" + dim) (first hex digit < 8 → +1), a digest
    * DuckDB reproduces exactly; the projection is a left fold in dimension
    * order so both engines accumulate the double sum identically.
    * Rademacher ±1 planes satisfy the same sign-agreement bound as
    * Gaussian ones for LSH purposes; the xxhash64 fast path stays the
    * default and this variant anchors it to a DuckDB oracle (q108b) plus
    * a parity spec. */
  def lshBucketMd5(vec: Column, nPlanes: Int, table: Int = 0): Column = {
    GraftExtensions.register(org.apache.spark.sql.SparkSession.active)
    call_function("graft_lsh_md5", vec, lit(nPlanes), lit(table * nPlanes))
  }

  /**
   * Multi-table LSH ANN: `nTables` independent hyperplane tables; corpus
   * and queries explode into one (table, bucket) key per table and join
   * on it (an equi-join Spark executes hash-partitioned — at corpus
   * scale this is the path that avoids the full cross product).
   * The bucket join is map-side (queries broadcast), and the exact cosine
   * is scored there too — BEFORE the candidate dedup — so the only
   * exchange in the whole plan (the distinct + the per-query top-k
   * window) carries (queryId, corpusId, cosine) scalars, never a vector.
   * A pair matched by several tables recomputes its cosine once per match
   * (map-side CPU, deterministic so the distinct collapses them), which
   * at corpus scale is far cheaper than shuffling embeddings. Recall ≈
   * 1-(1-p^nPlanes)^nTables — tune nPlanes down / nTables up for recall,
   * the reverse for cost.
   */
  def topKLsh(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nPlanes: Int = 8, nTables: Int = 4,
      bucketFn: (Column, Int, Int) => Column = lshBucket,
      maxQueries: Long = 1000000L): DataFrame = {
    // the banded query set (nTables x rows, vectors included) is
    // broadcast below — the same valve discipline as topKBruteForce,
    // which routes large query sets here; without it this path would
    // OOM at exactly the scale that routing promises to handle
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"topKLsh broadcasts the banded query set: $nQ rows x $nTables tables > " +
        s"maxQueries=$maxQueries; raise maxQueries explicitly, shrink the query " +
        "set, or join bucketed sides without the broadcast hint")
    // null/empty vectors have no meaningful projection — every plane
    // votes 0 and ALL of them pile into bucket 0 of every table (a junk
    // mega-bucket whose null cosines would pad sparse top-k results)
    def realVecs(df: DataFrame, vecCol: String) =
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    def banded(df: DataFrame, vecCol: String) = df.select(
      col("*"),
      posexplode(array((0 until nTables).map(t =>
        bucketFn(col(vecCol), nPlanes, t)): _*)))
      .withColumnRenamed("pos", "__table__")
      .withColumnRenamed("col", "__bucket__")
    val c = banded(realVecs(corpus, corpusVec), corpusVec)
    val q = banded(realVecs(queries, queryVec), queryVec)
    val candidates = c.join(broadcast(q), Seq("__table__", "__bucket__"))
      .select(col(queryId), col(corpusId),
        nativeCosine(corpus)(col(corpusVec), col(queryVec)).as("cosine"))
      .distinct() // multi-table matches collapse; cosine is deterministic
    val w = Window.partitionBy(col(queryId)).orderBy(col("cosine").desc, col(corpusId).asc)
    candidates.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") <= k)
      .select(col(queryId), col(corpusId), col("cosine"), col("__rk__").cast("long").as("rank"))
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of a
    * broadcast centroid table (id, vec); probing = equi-join on the
    * centroid id. Centroids come from any upstream sampling step.
    *
    * Plan shape: the centroid table is packed into ONE array-of-structs
    * row and attached with a broadcast single-row cross join; the argmax
    * is then a per-row codegen'd `aggregate()` fold — ZERO corpus
    * shuffles. (The previous formulation windowed row_number() over a
    * per-row surrogate id across the corpus×k cross product, which
    * hash-shuffled k× the corpus per call — k× the exchange volume per
    * Lloyd iteration at 100 TB.) Ties on similarity pick the smaller
    * centroid id; a row whose every similarity is null (dim mismatch /
    * null element) gets a null centroid_id.
    */
  def assignCentroid(df: DataFrame, vecCol: String, centroids: DataFrame,
      centIdCol: String, centVecCol: String): DataFrame = {
    GraftExtensions.register(df.sparkSession)
    val idType = centroids.schema(centIdCol).dataType
    // the argmax fold uses cid IS NULL as its "no best yet" sentinel — a
    // null-id centroid row would conflate with it and corrupt the fold
    val packed = centroids.filter(col(centIdCol).isNotNull).agg(collect_list(
      struct(col(centIdCol).as("cid"), col(centVecCol).as("cvec"))).as("__cents__"))
    val keys = df.columns.map(col).toIndexedSeq
    // score each centroid exactly once, then fold argmax over the scores
    val scored = transform(col("__cents__"), c => struct(
      c.getField("cid").as("cid"),
      call_function("graft_cosine", col(vecCol), c.getField("cvec")).as("sim")))
    val init = struct(
      lit(null).cast(idType).as("cid"), lit(null).cast("double").as("sim"))
    val best = aggregate(scored, init, (acc, c) => {
      val s = c.getField("sim")
      val better = s.isNotNull && (acc.getField("cid").isNull ||
        s > acc.getField("sim") ||
        (s === acc.getField("sim") && c.getField("cid") < acc.getField("cid")))
      when(better, c).otherwise(acc)
    })
    df.crossJoin(broadcast(packed))
      .withColumn("__best__", best)
      .select((keys :+ col("__best__").getField("cid").as("centroid_id")): _*)
  }
}
