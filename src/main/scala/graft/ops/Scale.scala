package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * 100 TB-scale physical-layout tools: bucketed co-located joins and
 * skew salting (reference analogs: modin's RangePartitioning merge path,
 * storage_formats/pandas/merge.py:39-101, shuffles both sides into
 * identical key ranges — bucketing is the persisted version of that
 * idea; the reference has no skew story, AQE + salting is ours).
 */
object Scale {

  /** Persist `df` bucketed by `keys` into the session catalog. Joins and
    * aggregations on the bucket keys then read co-located buckets and
    * skip the exchange entirely — the dominant shuffle at TB scale is
    * eliminated at write time, once, instead of per query. */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int, keys: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join two bucketed tables on their bucket keys — zero-shuffle
    * when both sides were bucketed with the same key set and count. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      on: Seq[String], how: String = "inner"): DataFrame =
    spark.table(left).join(spark.table(right), on, how)

  /**
   * Skew-salted join: replicate the (small) build side `saltFactor`
   * times and scatter the probe side's hot keys across the replicas, so
   * one giant key no longer lands in one task. AQE's skew-join split
   * handles moderate skew automatically; explicit salting is the tool
   * for pathological keys (the classic null-key / power-law case).
   *
   * The salt is deterministic (hash of the probe row's full content) —
   * no rand(), so retried tasks produce identical output.
   */
  def saltedJoin(probe: DataFrame, build: DataFrame, on: Seq[String],
      saltFactor: Int, how: String = "inner"): DataFrame = {
    // right/full outer would emit every unmatched build row saltFactor
    // times (one per replica) — restrict to the join types where the
    // replicated side never surfaces unmatched.
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti", "cross")(how),
      s"saltedJoin: '$how' not supported (build side is replicated)")
    val salt = "__salt__"
    val probeSalted = probe.withColumn(salt,
      pmod(xxhash64(probe.columns.map(col).toIndexedSeq: _*), lit(saltFactor.toLong)))
    val buildSalted = build.withColumn(salt,
      explode(sequence(lit(0L), lit(saltFactor.toLong - 1))))
    probeSalted.join(buildSalted, on :+ salt, how).drop(salt)
  }

  /**
   * Z-order (Morton-curve) clustered write — multi-dimensional data
   * skipping for the 100 TB layout. Sorting by one column makes parquet
   * min/max stats selective for THAT column only; interleaving the bits
   * of several columns' bucket indices orders the data along a
   * space-filling curve, so every file/row-group covers a narrow range in
   * EVERY z-dimension and a predicate on any of them prunes.
   *
   * Pipeline (all distributed; the only driver state is the boundary
   * arrays, ≤ 2^bitsPerDim doubles per dimension):
   *   1. per-dimension equi-depth bucket boundaries via `approxQuantile`
   *      (quantile buckets, not min/max ranges — skewed columns still
   *      spread across the full bucket space);
   *   2. per-row bucket index = codegen'd fold counting boundaries ≤ x
   *      (O(2^bitsPerDim) comparisons per row, no shuffle);
   *   3. bit-interleave the bucket indices into one long z-value;
   *   4. `repartitionByRange` + `sortWithinPartitions` on z (the TeraSort
   *      primitive — sampled pivots, no global funnel) and write.
   *
   * The resulting files each span a small hyper-rectangle of the key
   * space (ZOrderSpec pins per-file bucket spans ≪ the global span), so
   * scans with pushed-down predicates on the z-columns decode a fraction
   * of the row groups. Null bucket index is 0 (nulls cluster first,
   * matching NULLS FIRST scan pruning).
   */
  /** Per-dimension equi-depth bucket boundaries (interior, distinct),
    * computed with ONE multi-column approxQuantile job — per-column calls
    * would scan the full input once per dimension. Duplicate quantiles
    * (heavy hitters) are deduped so bucket ids stay dense. */
  private def zBoundaries(df: DataFrame, zCols: Seq[String],
      bitsPerDim: Int): Seq[Array[Double]] = {
    val nBuckets = 1 << bitsPerDim
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    df.select(zCols.map(c => col(c).cast("double").as(c)): _*)
      .stat.approxQuantile(zCols.toArray, probs, 0.001)
      .map(_.distinct.sorted).toIndexedSeq
  }

  /** Bucket index of `c` against sorted `boundaries` (the count of
    * boundaries ≤ x) as a BINARY-SEARCH `when` tree: O(log nBuckets)
    * comparisons evaluate per row, because when/otherwise only evaluates
    * the taken branch. Two prior forms measured slower on q184's write
    * (600 k rows, 255 boundaries, ProfileBench r15): an `aggregate`
    * higher-order fold (CodegenFallback — an interpreted 255-iteration
    * loop per row, 12.4 s per z pass) and a flat 255-term compare-sum
    * (every term evaluates; 21 s per pass). The search tree evaluates 8
    * of its 511 nodes per row. A null compares false at every node and
    * descends to bucket 0 — identical to the fold's null → 0 (nulls
    * cluster first, matching NULLS FIRST scan pruning). */
  private def zBucket(c: String, boundaries: Array[Double]): Column = {
    val x = col(c).cast("double")
    // result index in [lo, hi]; b(mid) splits: x >= b(mid) → [mid+1, hi]
    def go(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(x >= boundaries(mid), go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, boundaries.length)
  }

  /** Bit-interleave per-dimension bucket index COLUMNS into one z-value.
    * Each input is referenced `bitsPerDim` times — pass cheap attribute
    * references (materialized bucket columns) so the plan stays readable
    * and no evaluator has to rely on subexpression elimination to avoid
    * re-computing the bucket search per bit. */
  private def zInterleave(buckets: Seq[Column], bitsPerDim: Int, dims: Int): Column = {
    val interleaved = for {
      (bucket, d) <- buckets.zipWithIndex
      i <- 0 until bitsPerDim
    } yield shiftleft(
      shiftright(bucket.cast("long"), i).bitwiseAND(lit(1L)),
      i * dims + d)
    interleaved.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Single-Column z-value for tests/ad-hoc use. CAUTION (documented API
    * limit): this inlines each dimension's 2^bitsPerDim-node when-tree
    * bitsPerDim times into one expression (~8k nodes at the 8-bit/2-dim
    * default) — fine for the small frames tests feed it, but a wide
    * whole-stage-codegen projection around it can overflow janino's 64 KB
    * method limit and drop THAT projection to interpreted execution. Any
    * hot/write path must stage the buckets as real columns first, exactly
    * as [[writeZOrdered]] does — don't reuse this Column there. */
  def zValue(df: DataFrame, zCols: Seq[String], bitsPerDim: Int = 8): Column = {
    require(zCols.nonEmpty, "zValue: need at least one column")
    require(bitsPerDim >= 1 && zCols.size * bitsPerDim <= 63,
      s"zValue: ${zCols.size} dims x $bitsPerDim bits must fit a positive long")
    val boundaries = zBoundaries(df, zCols, bitsPerDim)
    zInterleave(zCols.zip(boundaries).map { case (c, bs) => zBucket(c, bs) },
      bitsPerDim, zCols.size)
  }

  /** Write `df` as parquet clustered along the z-curve of `zCols`. See
    * [[zValue]] for the skipping rationale. `numFiles` bounds the output
    * file count (defaults to spark.sql.shuffle.partitions).
    *
    * The per-dimension bucket indices are materialized as COLUMNS in
    * their own projection before the interleave (one bucket search per
    * row per dimension by construction), and the bucket search itself is
    * the O(log buckets) when-tree in [[zBucket]]. Measured r15 (sf0.1,
    * 600 k rows, ProfileBench min-of-3): the whole q184 round-trip fell
    * 26.5 s → 4.2 s — each z-computing pass (range-partition sampling +
    * main write) dropped 12.4 s → ~1.3 s once the per-row bucket cost
    * went from an interpreted 255-iteration HOF fold to 8 lazy
    * comparisons. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      bitsPerDim: Int = 8, numFiles: Option[Int] = None): Unit = {
    require(zCols.nonEmpty, "writeZOrdered: need at least one column")
    require(bitsPerDim >= 1 && zCols.size * bitsPerDim <= 63,
      s"writeZOrdered: ${zCols.size} dims x $bitsPerDim bits must fit a positive long")
    val n = numFiles.getOrElse(shufflePartitions(df.sparkSession))
    val boundaries = zBoundaries(df, zCols, bitsPerDim)
    val bucketNames = zCols.indices.map(d => s"__zb${d}__")
    // the synthetic bucket/z names must not shadow a real input column:
    // select(col("*") +: alias) would create an ambiguous duplicate and
    // the final drop would take the USER's column out of the written data
    val clash = df.columns.toSet.intersect(bucketNames.toSet + "__z__")
    require(clash.isEmpty,
      s"writeZOrdered: input already has reserved column(s) ${clash.mkString(", ")}")
    val staged = df.select(col("*") +:
      zCols.zip(boundaries).zipWithIndex.map { case ((c, bs), d) =>
        zBucket(c, bs).as(bucketNames(d)) }: _*)
    val z = "__z__"
    staged
      .withColumn(z, zInterleave(bucketNames.map(col), bitsPerDim, zCols.size))
      .repartitionByRange(n, col(z))
      .sortWithinPartitions(col(z))
      // projection preserves the per-partition sort; the written files
      // keep z-order without persisting the synthetic columns
      .drop(bucketNames :+ z: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /**
   * Distributed matrix multiply over LONG-FORM (COO) matrices — the
   * at-scale form of pandas `df.dot(df)` (the reference's dot is a
   * driver-side matvec; graft's q49 covers the vector case). A as
   * (i, k, v), B as (k, j, v): one hash equi-join on the contraction
   * index k, then one groupBy(i, j) sum — both linear in the nonzeros,
   * the textbook SUMMA-style plan. Sparse inputs cost only their
   * nonzeros; a small B side broadcasts under AQE automatically.
   */
  def matmulLong(a: DataFrame, ai: String, ak: String, av: String,
      b: DataFrame, bk: String, bj: String, bv: String): DataFrame =
    a.select(col(ai).as("i"), col(ak).as("__k__"), col(av).cast("double").as("__av__"))
      .join(b.select(col(bk).as("__k__"), col(bj).as("j"), col(bv).cast("double").as("__bv__")),
        Seq("__k__"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("__av__") * col("__bv__")).as("value"))

  /** Two-stage (salted) aggregation for algebraic functions: partial
    * aggregate on (keys ++ salt), final on keys. Spark's hash aggregate
    * already map-side-combines, but when one key dominates a whole
    * executor the extra stage re-spreads the partials. */
  def twoStageAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int,
      aggs: (String, String, Column)*): DataFrame = {
    // aggs: (partialFn, outName, inputExpr); partialFn ∈ sum|count|min|max
    val salt = "__salt__"
    val salted = df.withColumn(salt,
      pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(saltBuckets.toLong)))
    def fn(name: String, c: Column): Column = name match {
      case "sum" => sum(c); case "count" => count(c)
      case "min" => min(c); case "max" => max(c)
      case other => sys.error(s"twoStageAgg: non-algebraic $other")
    }
    val partial = salted.groupBy((keys :+ salt).map(col): _*)
      .agg(fn(aggs.head._1, aggs.head._3).as(aggs.head._2),
        aggs.tail.map(a => fn(a._1, a._3).as(a._2)): _*)
    // final stage: counts re-aggregate as sums of partial counts
    def finalFn(name: String, c: Column): Column = name match {
      case "count" => sum(c); case other => fn(other, c)
    }
    partial.groupBy(keys.map(col): _*)
      .agg(finalFn(aggs.head._1, col(aggs.head._2)).as(aggs.head._2),
        aggs.tail.map(a => finalFn(a._1, col(a._2)).as(a._2)): _*)
  }
}
