package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.{Frame, SortKey}

/**
 * GLOBAL bounded rolling windows without a single-partition sort.
 *
 * pandas `df.rolling(w).agg(...)` over the whole frame (reference
 * modin/pandas/window.py:99 — per-partition pandas there, with the same
 * positional order problem). The naive Spark plan —
 * `agg.over(Window.orderBy(...).rowsBetween(-(w-1), 0))` with no
 * partition key — funnels the entire table through ONE task (Spark even
 * warns). The grouped rolling (q55/q115) avoids it with the group key;
 * this operator solves the ungrouped case with the block-overlap trick:
 *
 *   1. global row order (RowOrder — range partition + two light jobs);
 *   2. block id = rowOrder / B with B ≥ w (default max(w, n/shuffle
 *      partitions)): each window spans at most two blocks;
 *   3. rows in a block's last w-1 positions are DUPLICATED as ghosts
 *      into the next block — ghost volume = (w-1)/B of the corpus,
 *      tunable toward 0 with bigger blocks;
 *   4. one hash shuffle on the block id, in-partition sort, the plain
 *      bounded window per block, ghosts filtered out.
 *
 * Result = exactly the single-partition plan's answer, at full
 * parallelism. `minPeriods` follows pandas (default = window): output is
 * null until the window holds that many rows — the first block has no
 * ghosts, so leading-edge counts are naturally correct.
 */
object RollingBlocks {

  private val Blk = "__blk__"
  private val Ghost = "__ghost__"

  /**
   * @param aggs (sourceCol, aggName, outCol); aggName ∈ sum|mean|min|max|
   *             count|stddev|variance — window-composable Spark aggregates.
   */
  def rollingAgg(
      df: DataFrame, order: Seq[SortKey], window: Int,
      aggs: Seq[(String, String, String)],
      minPeriods: Option[Int] = None,
      blockSize: Option[Long] = None): DataFrame = {

    require(window >= 1, s"window must be >= 1: $window")
    val minP = minPeriods.getOrElse(window)
    val ordered = RowOrder.withRowOrder(df, order)
    val parts = shufflePartitions(df.sparkSession).toLong
    // size blocks off the materialized count (a cheap metadata read on the
    // checkpointed frame) so parallelism survives even tiny shuffle confs.
    // ~4 blocks per partition (not 1): with exactly `parts` block ids
    // hashed into `parts` partitions, ~1/e of the partitions come up
    // empty and the fullest carries 3 blocks (balls-in-bins) — 4× more
    // blocks keeps every partition near the mean. Ghost volume is
    // (window-1)/B of the corpus, still ≪ 1 at these block sizes.
    val n = ordered.count()
    val b = blockSize.getOrElse(
      math.max(window.toLong, (n + 4 * parts - 1) / (4 * parts)))
    // an explicit block smaller than the window would leave rows near
    // each block's leading edge missing predecessors — silently-short
    // windows, the same invariant rollingTimeAgg already requires
    require(b >= window, s"blockSize $b < window $window")

    val ro = col(Frame.RowOrder)
    val own = ordered
      .withColumn(Blk, (ro / b).cast("long"))
      .withColumn(Ghost, lit(false))
    // last (w-1) rows of each block shadow into the following block
    val ghosts = ordered
      .filter(ro % b >= b - (window - 1))
      .withColumn(Blk, (ro / b).cast("long") + 1)
      .withColumn(Ghost, lit(true))
    val unioned = if (window == 1) own else own.unionByName(ghosts)
    // EXPLICIT block exchange (r16). Leaving the shuffle to the window's
    // ENSURE_REQUIREMENTS exchange lets AQE byte-coalesce it: the block
    // rows are KBs (AQE's 64 MB advisory sees "tiny") but the per-row
    // window work is CPU-dense, so the whole rolling computation landed
    // on 2 of 32 cores (ProfileBench q233: the two window stages ran 2
    // tasks, 2.1 s executor time each, 2.7 s of the query's 4.4 s wall).
    // repartition-by-number is exempt from AQE coalescing and satisfies
    // the window's clustered-distribution requirement, so this is the
    // SAME single shuffle, just at the declared width. The count is the
    // session's shuffle parallelism — scale-adaptive, not a local[32]
    // constant; at real scale the blocks carry real bytes and the
    // explicit width matches what AQE would pick anyway.
    val parted = unioned.repartition(parts.toInt, col(Blk))

    val w = Window.partitionBy(col(Blk)).orderBy(ro.asc)
      .rowsBetween(-(window - 1), Window.currentRow)
    val out = aggs.foldLeft(parted) { case (d, (src, how, as)) =>
      // pandas min_periods counts valid (non-null) observations of the
      // aggregated series, not window width
      val vcnt = count(col(src)).over(w)
      val a: Column = how match {
        case "sum"      => sum(col(src)).over(w)
        case "mean"     => avg(col(src)).over(w)
        case "min"      => min(col(src)).over(w)
        case "max"      => max(col(src)).over(w)
        case "count"    => vcnt.cast("long")
        case "stddev"   => stddev_samp(col(src)).over(w)
        case "variance" => var_samp(col(src)).over(w)
        case "median"   =>
          // exact rolling median: Spark has no percentile-over-rows-window,
          // so sort the (bounded, ≤ w values) window explicitly — same
          // trick as the grouped q116 rolling lambda, O(w log w) per row
          val vals = sort_array(filter(
            collect_list(col(src)).over(w), v => v.isNotNull))
          val m = size(vals)
          val half = floor(m / lit(2)).cast("int") // Column./ is double division
          when(m === 0, lit(null).cast("double")) // minPeriods=0, all-null window
            .when(m % 2 === 1, element_at(vals, half + 1).cast("double"))
            .otherwise((element_at(vals, half).cast("double") +
              element_at(vals, half + 1).cast("double")) / 2.0)
        case q if q.startsWith("quantile:") =>
          // exact linear-interpolation quantile (pandas rolling.quantile
          // default); percentile-over-rows-window skips nulls natively
          percentile(col(src), lit(q.stripPrefix("quantile:").toDouble)).over(w)
        // bias-corrected higher moments + SEM (pandas rolling.skew/kurt/
        // sem): same Stats expressions the grouped path uses, composed
        // over the block window — their own n-floors (3/4) stack with
        // the min_periods rule below
        case "skew" => graft.functions.Stats.skewOver(col(src), w)
        case "kurt" => graft.functions.Stats.kurtOver(col(src), w)
        case "sem"  => graft.functions.Stats.semOver(col(src), w)
        case other => sys.error(s"rollingAgg: unsupported agg $other")
      }
      d.withColumn(as, when(vcnt >= minP, a))
    }
    out.filter(!col(Ghost)).drop(Blk, Ghost)
  }

  /**
   * GLOBAL time-based rolling (pandas `rolling('1h')`) — the range-window
   * sibling of [[rollingAgg]]. Window of row t = rows with time in
   * (t − windowSec, t], so ties need no tie-break (all rows at one
   * instant share a window — deterministic by construction). Blocks are
   * TIME slices of width ≥ the window duration: block id =
   * epochµs / blockDur, rows in a block's trailing window-width ghost
   * into the next block, then the plain `rangeBetween` window runs per
   * block. One hash shuffle; ghost volume ≈ window/blockDur of the
   * corpus. Block duration defaults to the span/parallelism split,
   * floored at the window width.
   */
  def rollingTimeAgg(
      df: DataFrame, tsCol: String, windowSec: Long,
      aggs: Seq[(String, String, String)],
      blockDurationSec: Option[Long] = None): DataFrame = {

    require(windowSec >= 1, s"windowSec must be >= 1: $windowSec")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val winUs = windowSec * 1000000L

    val parts = shufflePartitions(df.sparkSession).toLong
    // ~4 time blocks per partition, same balls-in-bins smoothing as
    // rollingAgg's row blocks
    val blockUs = blockDurationSec.map(_ * 1000000L).getOrElse {
      val Seq(lo, hi) = df.agg(min(us), max(us)).collect()(0)
        .toSeq.map(_.asInstanceOf[Long]): @unchecked
      math.max(winUs, (hi - lo) / math.max(4 * parts, 1L) + 1L)
    }
    require(blockUs >= winUs, s"block duration $blockUs µs < window $winUs µs")

    val T = "__tus__"
    val base = df.withColumn(T, us)
    // floor(), not cast-truncation, and pmod, not %: negative epoch-µs
    // (pre-1970) must land in the lower block and still ghost forward —
    // truncation rounds toward zero and % keeps the dividend's sign,
    // which would silently drop every boundary-crossing window there
    val own = base
      .withColumn(Blk, floor(col(T) / blockUs).cast("long"))
      .withColumn(Ghost, lit(false))
    val ghosts = base
      .filter(pmod(col(T), lit(blockUs)) > blockUs - winUs)
      .withColumn(Blk, floor(col(T) / blockUs).cast("long") + 1)
      .withColumn(Ghost, lit(true))
    // explicit block exchange — see rollingAgg: AQE byte-coalescing would
    // serialize the CPU-dense window stage on byte-tiny block rows
    val parted = own.unionByName(ghosts).repartition(parts.toInt, col(Blk))

    val w = Window.partitionBy(col(Blk)).orderBy(col(T).asc)
      .rangeBetween(-(winUs - 1), Window.currentRow)
    val out = aggs.foldLeft(parted) { case (d, (src, how, as)) =>
      val a: Column = how match {
        case "sum"   => sum(col(src)).over(w)
        case "mean"  => avg(col(src)).over(w)
        case "min"   => min(col(src)).over(w)
        case "max"   => max(col(src)).over(w)
        case "count" => count(col(src)).over(w).cast("long")
        case other => sys.error(s"rollingTimeAgg: unsupported agg $other")
      }
      d.withColumn(as, a)
    }
    out.filter(!col(Ghost)).drop(Blk, Ghost, T)
  }
}
