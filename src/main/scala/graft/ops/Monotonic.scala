package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * is_monotonic_increasing / decreasing (reference base
 * query_compiler.py:2006,2016 — a map over partition boundary values +
 * reduce, exactly the shape implemented here).
 *
 * The naive plan — `lag(x) over (ORDER BY pos)` with no partition key —
 * funnels every row into one task. Instead:
 *   1. range-repartition on the probe column and sort within partitions
 *      (TeraSort primitive: sampled pivots, fully parallel);
 *   2. per-partition map emits 3 scalars: locally-sorted?, first, last;
 *   3. the driver folds the per-partition boundaries (partition count
 *      rows — constant-sized at any data scale).
 *
 * Note the subtlety: monotonicity is a property of the frame's CURRENT
 * order, so callers pass the ordering column explicitly (`__row_order__`
 * or a key); range-repartitioning by that same column preserves it.
 */
object Monotonic {

  /** Returns (isMonotonicIncreasing, isMonotonicDecreasing) of
    * `valueCol` under the frame's declared order `orderCol` — both
    * NON-strict (ties allowed), matching pandas `Series.is_monotonic_*`.
    * Nulls make the series non-monotonic (pandas: NaN ⇒ False).
    * Restriction: both columns must cast to double losslessly — longs
    * beyond 2^53 would alias; use a decimal/string comparator variant
    * if that range matters. `orderCol` must also be a UNIQUE total
    * order (e.g. `__row_order__`): with ties in orderCol the
    * within-partition sort leaves tied rows in arbitrary relative
    * order, so the inc/dec verdict on valueCol could vary run-to-run. */
  def check(df: DataFrame, orderCol: String, valueCol: String): (Boolean, Boolean) = {
    val n = shufflePartitions(df.sparkSession)
    // alias both sides — orderCol may BE valueCol (series case)
    val projected = df.select(
      col(orderCol).cast("double").as("__ord__"),
      col(valueCol).cast("double").as("__val__"))
      .repartitionByRange(n, col("__ord__"))
      .sortWithinPartitions(col("__ord__"))

    // (partitionId, locallyIncreasing, locallyDecreasing, firstVal, lastVal)
    val parts = projected.rdd.mapPartitionsWithIndex { case (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        var inc = true; var dec = true
        var first = Double.NaN; var prev = Double.NaN; var started = false
        it.foreach { r =>
          if (r.isNullAt(1)) { inc = false; dec = false } // pandas: NaN ⇒ False
          else {
            val v = r.getDouble(1)
            if (!started) { first = v; started = true }
            else {
              if (v < prev) inc = false
              if (v > prev) dec = false
            }
            prev = v
          }
        }
        Iterator((pid, inc, dec, first, prev))
      }
    }.collect().sortBy(_._1)

    var inc = parts.forall(_._2)
    var dec = parts.forall(_._3)
    parts.sliding(2).foreach {
      case Array(a, b) =>
        if (b._4 < a._5) inc = false
        if (b._4 > a._5) dec = false
      case _ =>
    }
    (inc, dec)
  }
}
