package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.api.{Frame, SortKey}

/**
 * Scalable global row numbering.
 *
 * pandas frames are positionally ordered; the reference keeps that order in
 * the 2-D partition grid with cached per-block lengths
 * (modin/core/dataframe/pandas/dataframe/dataframe.py:242-357) and resolves
 * positional ops from block offsets. The naive Spark translation —
 * `row_number().over(Window.orderBy(keys))` — collapses the data to a
 * single partition (the first scale-killer at 100 TB).
 *
 * This implements the same block-offset idea on Spark:
 *   1. range-repartition + sort within partitions on the order keys
 *      (Spark's TeraSort primitive — sampled pivots, no global funnel);
 *   2. one lightweight job to count rows per partition (counts only — no
 *      data moves to the driver);
 *   3. per-partition `offset + local index` via `mapPartitionsWithIndex`.
 *
 * Two jobs, every stage fully parallel. Used by positional operators
 * (iloc-slices, tail) when a materialized `__row_order__` is required.
 */
object RowOrder {

  def withRowOrder(df: DataFrame, order: Seq[SortKey], numPartitions: Option[Int] = None): DataFrame = {
    val sortCols = order.map(_.toColumn)
    val n = numPartitions.getOrElse(shufflePartitions(df.sparkSession))
    val sorted = df.repartitionByRange(n, sortCols: _*).sortWithinPartitions(sortCols: _*)

    // The cache freezes the sampled range partitioning so job 1's offsets
    // line up with job 2's partitions (re-executing repartitionByRange can
    // resample different bounds). It is released before returning: the
    // result is materialized, so the cached parent is no longer read.
    val rdd = sorted.rdd.cache()
    try {
      // Job 1: per-partition row counts (a Long per partition).
      val counts = rdd.mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)

      // Job 2: attach offset + local index.
      val withId = rdd.mapPartitionsWithIndex { case (i, it) =>
        var k = offsets(i)
        it.map { r => val out = Row.fromSeq(r.toSeq :+ k); k += 1; out }
      }
      val schema = StructType(sorted.schema.fields :+ StructField(Frame.RowOrder, LongType, nullable = false))
      materialize(sorted.sparkSession.createDataFrame(withId, schema), "row-order")
    } finally rdd.unpersist(blocking = false)
  }

  /** iloc positional slice [start, end) under the declared order
    * (reference take_2d_positional, QC:4684 — positional mask via cached
    * block lengths). */
  def ilocSlice(frame: Frame, start: Long, end: Long): Frame = {
    val d = withRowOrder(frame.df, frame.ordering)
    frame.copy(df = d
      .filter(d(Frame.RowOrder) >= start && d(Frame.RowOrder) < end))
  }
}
