package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.SortKey

/**
 * Global (ungrouped) running aggregates — the skip-and-carry prefix under
 * pandas cumsum/cummax/cummin over the whole frame (reference base
 * query_compiler.py:1475-1585, a Fold over the partition grid with
 * carried state). NOTE: like SQL window aggregates, a null-valued row
 * emits the carried running value, not null — internal consumers
 * (asofGlobal, Rank, Expanding, Corpus.packChunks) depend on exactly
 * that; pandas-facing cumulatives add the null-position mask themselves
 * (GroupBy.cumsum, Frame.cumsumAxis1).
 *
 * The naive Spark translation — `sum(x).over(Window.orderBy(key))` with no
 * partition keys — funnels ALL rows into one task (Spark even warns), the
 * first scale-killer at 100 TB. This implements the reference's fold idea
 * as the classic two-phase parallel prefix:
 *
 *   1. range-repartition + sort within partitions on the order keys and
 *      stamp `spark_partition_id()`; materialize it so the sampled
 *      range bounds are frozen for both consumers;
 *   2. per-partition running aggregate via a window PARTITIONED by the
 *      partition id (parallel across partitions);
 *   3. per-partition totals (one row per partition — thousands of rows at
 *      cluster scale, never data-sized) get an exclusive running prefix on
 *      the tiny side, broadcast-joined back and combined.
 *
 * Wall-clock: one range shuffle + one hash shuffle of the data, one tiny
 * aggregate. No stage sees more than 1/n of the rows.
 */
object Cumulative {

  private val Pid = "__pid__"

  /** fn ∈ sum|max|min. Adds one output column per (valueCol -> outName). */
  def globalRunning(
      df: DataFrame,
      order: Seq[SortKey],
      fn: String,
      cols: Seq[(String, String)],
      numPartitions: Option[Int] = None): DataFrame = {

    // the per-pair foldLeft adds output columns in sequence — an output
    // name shadowing a LATER pair's input would silently corrupt it
    require(!cols.map(_._2).exists(out => cols.map(_._1).contains(out)),
      s"globalRunning: output names ${cols.map(_._2)} must not collide with inputs")
    val n = numPartitions.getOrElse(
      shufflePartitions(df.sparkSession))
    val sortCols = order.map(_.toColumn)
    val sorted = materialize(df
      .repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(Pid, spark_partition_id()), "cumulative")

    def agg(c: Column): Column = fn match {
      case "sum" => sum(c)
      case "max" => max(c)
      case "min" => min(c)
      case other => sys.error(s"globalRunning: unsupported $other")
    }
    def combine(local: Column, prefix: Column): Column = fn match {
      // null-guards instead of `+ coalesce(prefix, 0.0)`: a double literal
      // would silently promote decimal inputs back to double. The inner
      // guard covers a partition whose rows are all-null so far (local
      // running sum still null) — the carried prefix IS the running value
      // there, exactly as a single window would emit.
      case "sum" => when(prefix.isNull, local)
        .otherwise(when(local.isNull, prefix).otherwise(local + prefix))
      case "max" => when(prefix.isNull, local).otherwise(greatest(local, prefix))
      case "min" => when(prefix.isNull, local).otherwise(least(local, prefix))
    }

    val wLocal = Window.partitionBy(col(Pid)).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = cols.foldLeft(sorted) { case (d, (v, out)) =>
      d.withColumn(out, agg(col(v)).over(wLocal))
    }

    // One row per partition; the exclusive-prefix window over it is a
    // single task over ~numPartitions rows — constant-size at any data
    // scale, so the "global window" here is safe by construction.
    val totals = sorted.groupBy(col(Pid))
      .agg(agg(col(cols.head._1)).as(s"__t0__"),
        cols.tail.zipWithIndex.map { case ((v, _), i) => agg(col(v)).as(s"__t${i + 1}__") }: _*)
    val wPrefix = Window.orderBy(col(Pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = totals.select(
      col(Pid) +: cols.zipWithIndex.map { case (_, i) =>
        agg(col(s"__t${i}__")).over(wPrefix).as(s"__p${i}__")
      }: _*)

    val joined = local.join(broadcast(prefixes), Seq(Pid))
    val out = cols.zipWithIndex.foldLeft(joined) { case (d, ((_, outName), i)) =>
      d.withColumn(outName, combine(col(outName), col(s"__p${i}__")))
    }
    out.drop(Pid +: cols.indices.map(i => s"__p${i}__"): _*)
  }

  /** GROUPED running aggregate that survives hot keys — the scale path
    * behind GroupBy.cumsum/cummax/cummin when one group dominates.
    *
    * `Window.partitionBy(key)` places each group in ONE task: a key
    * holding 50% of 100 TB serializes half the data through one thread —
    * the skew_runs watch-item from round 6 (ratio 1.684 at 32×). Here the
    * hot group is split across range partitions instead and stitched with
    * the same skip-and-carry trick as [[globalRunning]]:
    *
    *   1. range-repartition + sort on (keys ++ order): a group's rows are
    *      CONTIGUOUS across partitions, so a key spans >1 partition only
    *      when it is the first or last key of one;
    *   2. per-(partition, key) local running aggregate — the hot group's
    *      chunks run in parallel;
    *   3. offsets only for partition-BOUNDARY keys (≤ 2 rows per
    *      partition, constant-size at any data scale — unlike a naive
    *      per-(pid, key) totals table, which would be #groups-sized):
    *      exclusive prefix per key over partition ids on the tiny side,
    *      broadcast back on (pid, keys).
    *
    * Same null rule as SQL window aggregates (a null-valued row carries
    * the running value); callers add pandas' null-position mask on top.
    */
  def groupedRunning(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[SortKey],
      fn: String,
      cols: Seq[(String, String)],
      numPartitions: Option[Int] = None): DataFrame = {

    require(keys.nonEmpty, "groupedRunning: use globalRunning when there are no keys")
    require(order.nonEmpty, "groupedRunning: an in-group ordering is required")
    require(!cols.map(_._2).exists(out => cols.map(_._1).contains(out)),
      s"groupedRunning: output names ${cols.map(_._2)} must not collide with inputs")
    val n = numPartitions.getOrElse(
      shufflePartitions(df.sparkSession))
    val keyCols = keys.map(col)
    val sortCols = keyCols ++ order.map(_.toColumn)
    val sorted = materialize(df
      .repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn(Pid, spark_partition_id()), "cumulative")

    def agg(c: Column): Column = fn match {
      case "sum" => sum(c)
      case "max" => max(c)
      case "min" => min(c)
      case other => sys.error(s"groupedRunning: unsupported $other")
    }
    def combine(local: Column, prefix: Column): Column = fn match {
      // same null rules as globalRunning's combine (see above)
      case "sum" => when(prefix.isNull, local)
        .otherwise(when(local.isNull, prefix).otherwise(local + prefix))
      case "max" => when(prefix.isNull, local).otherwise(greatest(local, prefix))
      case "min" => when(prefix.isNull, local).otherwise(least(local, prefix))
    }

    val wLocal = Window.partitionBy(col(Pid) +: keyCols: _*)
      .orderBy(order.map(_.toColumn): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = cols.foldLeft(sorted) { case (d, (v, out)) =>
      d.withColumn(out, agg(col(v)).over(wLocal))
    }

    // Boundary totals WITHOUT a second full-data exchange (r9 — the r7/r8
    // shape re-shuffled everything a second time: a partition-id-only
    // window needs hashpartitioning(pid), which the (pid, keys) exchange
    // the local pass made cannot satisfy, so Catalyst inserted a second
    // data-sized shuffle+sort just to find each partition's first/last
    // key). Split the two concerns:
    //   - edge keys per partition: a groupBy(pid) min/max aggregate —
    //     partial aggregation makes its exchange #partitions-sized, and
    //     the result broadcasts back;
    //   - per-(pid, key) group totals: windows over the SAME (pid, keys)
    //     clustering as wLocal, chained on `local` so Catalyst reuses
    //     that one exchange (broadcast joins and filters preserve the
    //     streamed side's partitioning).
    // The edge filter keeps whole groups (it tests only pid + key), so
    // the post-filter group windows still see every row of a kept group.
    val keyStruct = struct(keyCols: _*)
    val wGroupAll = Window.partitionBy(col(Pid) +: keyCols: _*)
    val wGroupOrd = wGroupAll.orderBy(order.map(_.toColumn): _*)
    val edges = sorted.groupBy(col(Pid))
      .agg(min(keyStruct).as("__kf__"), max(keyStruct).as("__kl__"))
      .withColumnRenamed(Pid, "__epid__")
    val boundary = local
      .join(broadcast(edges), col(Pid) === col("__epid__"))
      .filter(keyStruct === col("__kf__") || keyStruct === col("__kl__"))
      .withColumn("__rn__", row_number().over(wGroupOrd))
      .withColumns(
        cols.zipWithIndex.map { case ((v, _), i) => s"__t${i}__" -> agg(col(v)).over(wGroupAll) }.toMap)
      .filter(col("__rn__") === 1)
      .select(col(Pid) +: keyCols ++: cols.indices.map(i => col(s"__t${i}__")): _*)

    // ≤ 2 rows per partition: the exclusive per-key prefix over pids is
    // a tiny exchange, never data-sized.
    val wPrefix = Window.partitionBy(keyCols: _*).orderBy(col(Pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = boundary.select(
      col(Pid) +: keyCols ++: cols.indices.map { i =>
        agg(col(s"__t${i}__")).over(wPrefix).as(s"__p${i}__")
      }: _*)

    // NULL-SAFE stitch: Window.partitionBy (the semantics this matches)
    // treats a null key as one ordinary group, but an equi-join would
    // never match it — a null-keyed group spanning a partition boundary
    // would silently lose its carried prefix. Rename the tiny side and
    // join on <=> per key column instead.
    val pfx = prefixes.select(
      col(Pid).as("__ppid__") +:
        keys.zipWithIndex.map { case (k, i) => col(k).as(s"__pk${i}__") } ++:
        cols.indices.map(i => col(s"__p${i}__")): _*)
    val cond = keys.zipWithIndex
      .map { case (k, i) => col(k) <=> col(s"__pk${i}__") }
      .foldLeft(col(Pid) === col("__ppid__"))(_ && _)
    val joined = local.join(broadcast(pfx), cond, "left")
    val out = cols.zipWithIndex.foldLeft(joined) { case (d, ((_, outName), i)) =>
      d.withColumn(outName, combine(col(outName), col(s"__p${i}__")))
    }
    out.drop(Pid +: "__ppid__" +: keys.indices.map(i => s"__pk${i}__") ++:
      cols.indices.map(i => s"__p${i}__"): _*)
  }
}
