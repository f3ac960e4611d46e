package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.Stats

/**
 * GroupBy — the reference's largest operator family (~45 methods;
 * modin/core/storage_formats/base/query_compiler.py:3500-4580).
 *
 * The reference picks one of three strategies at runtime (TreeReduce /
 * range-partitioning shuffle / full-axis broadcast —
 * modin/core/storage_formats/pandas/query_compiler.py:4236-4287). On Spark a
 * single declarative `groupBy().agg()` already compiles to the TreeReduce
 * physics (partial HashAggregate → hash exchange → final HashAggregate), and
 * order-dependent per-group ops (cumsum/shift/rank/first/…) become window
 * functions over `Window.partitionBy(keys)` — one shuffle on the keys, no
 * global ordering, so the plan scales with the number of groups, not rows.
 */
final class GroupBy(frame: Frame, val keys: Seq[String]) {

  private def df = frame.df
  private def kcols = keys.map(col)

  /** Named aggregation — reference groupby_agg dict mode (QC:4236).
    * Output column names are caller-chosen (pandas named-agg style). */
  def agg(exprs: (String, Column)*): Frame = Frame(
    df.groupBy(kcols: _*).agg(exprs.head._2.as(exprs.head._1),
      exprs.tail.map { case (n, c) => c.as(n) }: _*),
    indexCols = keys)

  /** reference groupby_size (base QC:3692). */
  def size(name: String = "size"): Frame =
    agg(name -> count(lit(1)))

  /** Convenience single-function agg over several columns:
    * reference groupby_sum/min/max/mean/… (base QC:3500-3869). */
  def aggAll(fn: String, cols: Seq[String]): Frame = {
    val exprs = cols.map { c =>
      val e = fn match {
        case "sum"    => sum(col(c))
        case "min"    => min(col(c))
        case "max"    => max(col(c))
        case "mean"   => avg(col(c))
        case "count"  => count(col(c))
        case "std"    => stddev_samp(col(c))
        case "var"    => var_samp(col(c))
        case "median" => percentile_approx(col(c), lit(0.5), lit(100000))
        case "nunique" => countDistinct(col(c))
        case other    => sys.error(s"aggAll: $other")
      }
      s"${c}_$fn" -> e
    }
    agg(exprs: _*)
  }

  /** pandas `groupby.nunique()` on one column, nulls excluded. `approx <=
    * 0` is exact countDistinct (shuffles every distinct (group, value)
    * pair — fine at dimension scale, cardinality-bound at 100 TB).
    * `approx = k` rides the bottom-k KMV sketch ([[graft.ops.Sketch]]):
    * map-side buffers cap at k longs per group per task, so the exchange
    * is independent of the value column's cardinality, and the estimate
    * (relative error ~1/√k) is EXACT whenever the group's true NDV is
    * below k. */
  def nunique(column: String, as: String, approx: Int = 0): Frame =
    if (approx <= 0) agg(as -> countDistinct(col(column)))
    else {
      import graft.ops.Sketch
      Frame(df.filter(col(column).isNotNull)
        .select(kcols :+ Sketch.hash60(col(column)).as("__h60"): _*)
        .groupBy(kcols: _*)
        .agg(Sketch.estimate(Sketch.bottomKAgg(col("__h60"), approx), approx)
          .as(as)),
        indexCols = keys)
    }

  /** The group-relative frequent tail at corpus scale: every value with
    * count ≥ φ·n_group and its EXACT count
    * ([[graft.ops.Sketch.heavyHittersByGroup]] — per-group Misra–Gries
    * candidates per partition + broadcast verify; no
    * cardinality-sized shuffle). Output ordered (keys…, cnt desc,
    * value) for determinism. */
  def heavyHitters(column: String, phi: Double): Frame = {
    require(phi > 0 && phi < 1, s"heavyHitters needs 0 < phi < 1: $phi")
    val num = math.max(1L, math.round(phi * 1000000L))
    Frame(graft.ops.Sketch.heavyHittersByGroup(df, keys, column, num, 1000000L)
      .orderBy(keys.map(col) ++ Seq(col("cnt").desc, col(column).asc): _*),
      indexCols = keys)
  }

  /** Per-group numpy `quantile(weights=…, method='inverted_cdf')`
    * ([[graft.ops.Sketch.weightedQuantileQuantizedBy]]) — per-domain
    * token/byte-weighted percentile cuts with exact integer cumulative
    * weights. */
  def weightedQuantileApprox(column: String, weightCol: String,
      qs: Seq[Double], scale: Int): Frame = {
    val rs = qs.map(q => (math.round(q * 1000000L), 1000000L))
    Frame(graft.ops.Sketch.weightedQuantileQuantizedBy(df, keys, column,
      weightCol, rs, scale).drop("q_num", "q_den"), indexCols = keys)
  }

  /** `groupby.describe()` on the bounded-state path
    * ([[graft.ops.Sketch.describeQuantizedBy]]): per-group exact integer
    * moments + histogram quartiles, long-form (keys…, stat, value)
    * output — the q269 construction with the group key carried
    * through. */
  def describeApprox(column: String, scale: Int): Frame =
    Frame(graft.ops.Sketch.describeQuantizedBy(df, keys, column, scale),
      indexCols = keys)

  /** `groupby.quantile(qs)` on the bounded-memory quantized-histogram
    * path ([[graft.ops.Sketch.quantileQuantizedBy]]): per-group
    * aggregate state is that group's span-bounded histogram, never its
    * rows — where the exact `percentile` buffers every value of the
    * group. Deterministic half-unit error at 10^−scale precision; qs
    * quantize to rationals over 10⁶ (exact-integer rank math). Output:
    * one (keys…, q, value) row per group × quantile. */
  def quantileApprox(column: String, qs: Seq[Double], scale: Int): Frame = {
    val rs = qs.map(q => (math.round(q * 1000000L), 1000000L))
    Frame(graft.ops.Sketch.quantileQuantizedBy(df, keys, column, rs, scale)
      .drop("q_num", "q_den"), indexCols = keys)
  }

  // -------------------------------------------------------------------
  // window-based per-group ops: one shuffle on keys, order within group
  // -------------------------------------------------------------------

  private def w(order: Seq[SortKey]): WindowSpec =
    Window.partitionBy(kcols: _*).orderBy(order.map(_.toColumn): _*)

  private def running(order: Seq[SortKey]): WindowSpec =
    w(order).rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** reference groupby_cumsum (base QC:3930). pandas skipna carries the
    * running value PAST a missing row but emits NaN AT it — Spark's
    * window sum alone would emit the carried value there, so null
    * positions are masked (same rule as Frame.cumsumAxis1). */
  def cumsum(c: String, as: String, order: Seq[SortKey]): Frame =
    frame.withColumn(as, when(col(c).isNotNull, sum(col(c)).over(running(order))))

  /** [[cumsum]] with hot-key-proof physics: identical semantics (same
    * null-position mask), but the running sum comes from
    * [[graft.ops.Cumulative.groupedRunning]] — the dominant group is
    * SPLIT across range partitions and stitched with boundary offsets
    * instead of serializing through one window task. Use when a single
    * key can hold a data-sized share of rows: with half the rows on 10
    * keys, its 64× scale slope stayed within 1.2× of the uniform-key
    * slope (median of six runs). The plain window path stays default
    * because its one hash exchange beats two range passes when groups
    * are balanced. */
  def cumsumSkewSafe(c: String, as: String, order: Seq[SortKey]): Frame = {
    val run = graft.ops.Cumulative.groupedRunning(df, keys, order, "sum", Seq(c -> as))
    Frame(run.withColumn(as, when(col(c).isNotNull, col(as))), frame.indexCols)
  }

  /** reference groupby_cummax/cummin (base QC:3954,3978). */
  def cummax(c: String, as: String, order: Seq[SortKey]): Frame =
    frame.withColumn(as, when(col(c).isNotNull, max(col(c)).over(running(order))))

  def cummin(c: String, as: String, order: Seq[SortKey]): Frame =
    frame.withColumn(as, when(col(c).isNotNull, min(col(c)).over(running(order))))

  /** reference groupby_cumcount (base QC:3906) — 0-based like pandas. */
  def cumcount(as: String, order: Seq[SortKey]): Frame =
    frame.withColumn(as, (row_number().over(w(order)) - 1).cast("long"))

  /** reference groupby_shift (base QC:4324). */
  def shift(c: String, as: String, periods: Int, order: Seq[SortKey]): Frame =
    frame.withColumn(as,
      if (periods >= 0) lag(col(c), periods).over(w(order))
      else lead(col(c), -periods).over(w(order)))

  /** reference groupby_diff (base QC:4247). */
  def diff(c: String, as: String, order: Seq[SortKey]): Frame =
    frame.withColumn(as, col(c) - lag(col(c), 1).over(w(order)))

  /** reference groupby_pct_change (base QC:4260); `periods` may be
    * negative (compare against a FUTURE row, pandas semantics). A zero
    * base follows pandas/IEEE (±Inf, 0/0 → NaN) via [[Frame.ieeeDiv]] —
    * Spark 4's ANSI divide would otherwise throw DIVIDE_BY_ZERO even on
    * doubles (found by the round-12 differential fuzzer, seed 78). */
  def pctChange(c: String, as: String, order: Seq[SortKey], periods: Int = 1): Frame = {
    val base =
      if (periods >= 0) lag(col(c), periods).over(w(order))
      else lead(col(c), -periods).over(w(order))
    frame.withColumn(as,
      Frame.ieeeDiv((col(c) - base).cast("double"), base.cast("double")))
  }


  /** reference groupby_rank (base QC:4068); pandas
    * method='min'|'dense'|'first'|'max'|'average'. average/max derive from
    * min-rank plus the same-value tie count (one extra unordered window
    * over (keys, value) — same partitioning, no extra shuffle):
    * max = min + ties - 1, average = min + (ties-1)/2. */
  def rank(c: String, as: String, method: String = "min",
      ascending: Boolean = true, pct: Boolean = false): Frame = {
    // nulls AND NaNs are missing (pandas na_option='keep'): they sort
    // LAST so they never consume ranks of valid rows, the denominators
    // exclude them, and the output nulls them; without this a null row
    // would take rank 1 and push pct above 1.0, and Spark would rank NaN
    // as the largest double (the Rank.withAvgRank hazard)
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val valid = frame.df.schema(c).dataType match {
      case DoubleType | FloatType => col(c).isNotNull && !isnan(col(c))
      case _ => col(c).isNotNull
    }
    // NaN-as-missing must also not ORDER among valid rows: rank over a
    // masked copy (NaN → null) so asc_nulls_last pushes it past them
    val cv = when(valid, col(c))
    val key = if (ascending) cv.asc_nulls_last else cv.desc_nulls_last
    val spec = Window.partitionBy(kcols: _*).orderBy(key)
    lazy val ties = count(lit(1)).over(Window.partitionBy((kcols :+ cv): _*))
    val r = method match {
      case "min"     => org.apache.spark.sql.functions.rank().over(spec)
      case "dense"   => dense_rank().over(spec)
      case "first"   => row_number().over(spec)
      case "max"     => org.apache.spark.sql.functions.rank().over(spec) + ties - lit(1)
      case "average" =>
        org.apache.spark.sql.functions.rank().over(spec).cast("double") +
          (ties - lit(1)).cast("double") / lit(2.0)
      case other     => sys.error(s"rank method $other")
    }
    // pandas rank(pct=True): rank / count of valid values in the group
    // (for dense, pandas divides by the number of DISTINCT values)
    if (pct && method == "dense") {
      // distinct-count per group as an AGGREGATE joined back (null-safe
      // keys, so null-key groups keep window parity), auto-broadcast when
      // small. NOT size(collect_set().over(group window)): an unbounded
      // window's collect_set emits the whole per-group set on EVERY row —
      // O(group²) bytes that a downstream sort must carry (at sf0.1 that
      // was gigabytes of spill for a 150k-row input).
      val nd = "__nd__"
      val dist = df.groupBy(kcols: _*).agg(count_distinct(cv).as(nd))
        .select(keys.map(k => col(k).as(s"__k_$k")) :+ col(nd): _*)
      val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
      val joined = df.join(dist, cond, "left")
        .drop(keys.map(k => s"__k_$k"): _*)
      val out = joined
        .withColumn(as, when(valid, r.cast("double") / col(nd)))
        .drop(nd)
      frame.copy(df = out)
    } else {
      val denom = count(cv).over(Window.partitionBy(kcols: _*))
      val ranked = if (pct) r.cast("double") / denom else r
      frame.withColumn(as, when(valid, ranked))
    }
  }

  /** reference groupby_head (base QC:4396) — first n rows per group. */
  def headPerGroup(n: Int, order: Seq[SortKey]): Frame = {
    val d = df.withColumn(Frame.RowNum, row_number().over(w(order)))
      .filter(col(Frame.RowNum) <= n).drop(Frame.RowNum)
    frame.copy(df = d)
  }

  /** reference groupby_tail (base QC:4420). */
  def tailPerGroup(n: Int, order: Seq[SortKey]): Frame = {
    val d = df.withColumn(Frame.RowNum, row_number().over(w(order.map(_.reversed))))
      .filter(col(Frame.RowNum) <= n).drop(Frame.RowNum)
    frame.copy(df = d)
  }

  /** reference groupby_nth (base QC:4444) — 0-based. */
  def nth(n: Int, order: Seq[SortKey]): Frame = {
    val d = df.withColumn(Frame.RowNum, row_number().over(w(order)))
      .filter(col(Frame.RowNum) === n + 1).drop(Frame.RowNum)
    frame.copy(df = d)
  }

  /** reference groupby_first/groupby_last (base QC:4348,4372) as aggregates
    * under a deterministic order: min_by / max_by on the order key. */
  def firstLast(valueCol: String, orderKey: String): Frame = agg(
    s"${valueCol}_first" -> min_by(col(valueCol), col(orderKey)),
    s"${valueCol}_last" -> max_by(col(valueCol), col(orderKey)))

  /** reference groupby_idxmin/idxmax (base QC:3548,3566): index label of the
    * extremum (deterministic tie-break on the label itself via struct order). */
  def idxminmax(valueCol: String, idxCol: String): Frame = agg(
    "idxmin" -> min_by(col(idxCol), struct(col(valueCol), col(idxCol))),
    "idxmax" -> max_by(col(idxCol), struct(col(valueCol), col(idxCol) * -1)))

  /** reference groupby_ohlc (base QC:4562) under a declared order. */
  def ohlc(valueCol: String, orderKey: String): Frame = agg(
    "open"  -> min_by(col(valueCol), col(orderKey)),
    "high"  -> max(col(valueCol)),
    "low"   -> min(col(valueCol)),
    "close" -> max_by(col(valueCol), col(orderKey)))

  /** reference groupby_nlargest (base QC:4492): top-n per group by value —
    * rank-filter, one shuffle, no global sort. */
  /** pandas `groupby.sample(n=, random_state=)` as DETERMINISTIC
    * content-hash sampling: exactly min(n, group size) rows per group,
    * chosen by md5(salt + key) order — the per-group form of the q155
    * sampling discipline. Reproducible across engines, runs, and
    * partitionings (the property a 100 TB balanced-class subsample
    * needs — e.g. equal docs per language); one window over the group
    * keys, no second scan. */
  def sampleN(n: Int, hashKeyCol: String, salt: String = ""): Frame = {
    require(n >= 1, s"sampleN: n must be >= 1: $n")
    val spec = Window.partitionBy(kcols: _*)
      .orderBy(Frame.hashBucket(col(hashKeyCol), salt).asc, col(hashKeyCol).asc)
    frame.copy(df = df.withColumn(Frame.RowNum, row_number().over(spec))
      .filter(col(Frame.RowNum) <= n).drop(Frame.RowNum))
  }

  def nlargestPerGroup(n: Int, valueCol: String, tieBreak: Seq[SortKey]): Frame = {
    val spec = Window.partitionBy(kcols: _*)
      .orderBy(col(valueCol).desc +: tieBreak.map(_.toColumn): _*)
    val d = df.withColumn(Frame.RowNum, row_number().over(spec))
      .filter(col(Frame.RowNum) <= n).drop(Frame.RowNum)
    frame.copy(df = d)
  }

  /** reference groupby_skew (base QC:3869): pandas adjusted (sample) skew,
    * composed from Spark's population moments — see [[Stats.sampleSkew]]. */
  def skew(c: String, as: String): Frame = agg(as -> Stats.sampleSkew(col(c)))

  /** reference groupby_sem (base QC:4046): stddev / sqrt(count). */
  def sem(c: String, as: String): Frame = agg(as -> Stats.sem(col(c)))

  /** reference groupby_corr / groupby_cov (base QC:4112,4134). */
  def corrCov(c1: String, c2: String): Frame = agg(
    "corr" -> corr(col(c1), col(c2)),
    "cov" -> covar_samp(col(c1), col(c2)))

  /** reference groupby_unique (base QC:4542) — sorted for determinism. */
  def uniquePerGroup(c: String, as: String): Frame =
    agg(as -> array_sort(collect_set(col(c))))

  /** reference groupby_ngroup (base QC:4468): group id 0..G-1 in sorted
    * key order. Numbers only the DISTINCT key set (G rows, not N) with
    * the two-pass block-offset plan (ops.RowOrder) — no single-task
    * window even when G itself is huge — then equi-joins the ids back
    * (AQE picks broadcast when G is small, shuffle join otherwise). */
  def ngroup(as: String): Frame = {
    val distinctKeys = df.select(kcols: _*).distinct()
    // ids stay long (pandas ngroup is int64) — an int cast would wrap
    // past 2^31 distinct keys, the exact regime this formulation targets
    val ids = graft.ops.RowOrder
      .withRowOrder(distinctKeys, keys.map(SortKey.asc))
      .withColumnRenamed(Frame.RowOrder, as)
    frame.copy(df = df.join(ids, keys))
  }

  /** reference groupby_cumprod (base QC:4002) over an integral column:
    * exact long fold over the running prefix (a windowed collect_list —
    * bounded-group op, O(n²) in group length; for unbounded groups use
    * [[cumprodDouble]]). */
  def cumprodLong(c: String, as: String, order: Seq[SortKey]): Frame =
    frame.withColumn(as,
      aggregate(collect_list(col(c)).over(running(order)), lit(1L), (acc, x) => acc * x))

  /** Unbounded-group cumprod: sign/zero-aware exp∘sum∘log. Three plain
    * running-window aggregates (log-magnitude sum, negative count, zero
    * count) — O(n) per group with partial window evaluation and no
    * per-row prefix materialization, so it survives groups of any
    * length. The magnitude is exp-of-sum (FP-approximate to ~1e-13
    * relative, unlike [[cumprodLong]]'s exact integers); sign and
    * zero-ness are exact. Nulls follow pandas skipna cumprod: a null row
    * emits null and is excluded from the running product. */
  def cumprodDouble(c: String, as: String, order: Seq[SortKey]): Frame = {
    val w = running(order)
    val x = col(c).cast("double")
    val zeros = sum(when(x === 0.0, 1L).otherwise(0L)).over(w)
    val negs = sum(when(x < 0.0, 1L).otherwise(0L)).over(w)
    val logSum = sum(when(x =!= 0.0, log(abs(x)))).over(w)
    val sign = when(pmod(negs, lit(2L)) === 1L, lit(-1.0)).otherwise(lit(1.0))
    frame.withColumn(as,
      when(x.isNull, lit(null).cast("double"))
        .when(zeros > 0, sign * lit(0.0))
        .otherwise(sign * exp(coalesce(logSum, lit(0.0)))))
  }

  /** reference groupby_fillna method='ffill' (base QC:4228): per-group
    * forward fill = last non-null over the running window. */
  def ffillPerGroup(c: String, as: String, order: Seq[SortKey]): Frame =
    frame.withColumn(as, last(col(c), ignoreNulls = true).over(running(order)))

  /** reference groupby_get_group (base QC:4300). */
  /** pandas `groupby(...).rolling(window, min_periods)` — the grouped
    * bounded window is natively parallel (partitioned by the group key;
    * q55/q115's formulation behind a fluent surface). min_periods counts
    * valid observations, as in pandas. */
  def rolling(window: Int, order: Seq[SortKey],
      minPeriods: Option[Int] = None, center: Boolean = false): GroupedRolling = {
    require(window >= 1, s"window must be >= 1: $window")
    GroupedRolling(frame, keys, window, order, minPeriods.getOrElse(window), center)
  }

  /** pandas `groupby(...).rolling('<freq>', closed=...)` — time-based
    * rolling over an integer-microsecond order column; see
    * [[GroupedTimeRolling]] for the exact closed-interval bounds. */
  def rollingTime(windowMicros: Long, orderMicrosCol: String,
      closed: String = "right", minPeriods: Int = 1): GroupedTimeRolling = {
    require(windowMicros >= 1, s"windowMicros must be >= 1: $windowMicros")
    GroupedTimeRolling(frame, keys, windowMicros, orderMicrosCol, closed, minPeriods)
  }

  def getGroup(values: Seq[Any]): Frame = frame.copy(
    df = keys.zip(values).foldLeft(df) { case (d, (k, v)) => d.filter(col(k) === lit(v)) })

  /** pandas `groupby(...).ewm(alpha=…)` — the fluent surface over the
    * ops/Ewm recurrences (reference modin/pandas/window.py:34; one hash
    * shuffle on the group key, then a sequential O(1)-per-row fold per
    * group — ewm's chain dependency is inherently sequential within a
    * group, parallel across groups). Requires a single integral group
    * key (the kernel keys on one long), an order column, and an
    * integral tie-break id column standing in for the pandas row index.
    * Use `Ewm.alphaFrom{Span,Com,Halflife}` for the other decay
    * parameterizations. */
  def ewm(orderCol: String, idCol: String, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false): GroupEwm = {
    require(keys.size == 1, s"ewm requires a single group key, got $keys")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    GroupEwm(frame, keys.head, orderCol, idCol, alpha, adjust, ignoreNa)
  }
}

/** `groupby.ewm(...)` aggregate surface. Each method returns the Series
  * analog: (group key, id, result column(s)) — `idCol` is the caller's
  * row identity, so results re-attach to the source frame by id without
  * the op ever carrying the full row payload through the fold. */
final case class GroupEwm(frame: Frame, key: String, orderCol: String,
    idCol: String, alpha: Double, adjust: Boolean, ignoreNa: Boolean) {
  import graft.ops.Ewm

  private def sel(df: DataFrame, cols: String*): Frame =
    Frame(df.select((Seq(key, idCol) ++ cols).map(col): _*))

  def mean(c: String, as: String): Frame =
    sel(Ewm.meanByKey(frame.df, key, orderCol, idCol, c, alpha, as, adjust, ignoreNa), as)

  /** `ewm.var(bias=False)` plus its sqrt `<as>_std`. adjust=True only —
    * the parameterization pandas defines the Bessel debias factor for.
    * alpha=0.5 routes through the bit-deterministic dyadic kernel
    * ([[graft.ops.Ewm.varByKeyDyadic]]); other alphas use the double
    * recurrence. */
  def variance(c: String, as: String): Frame = {
    require(adjust, "ewm.var is defined for adjust=True")
    val d =
      if (alpha == 0.5) Ewm.varByKeyDyadic(frame.df, key, orderCol, idCol, c, as, ignoreNa)
      else Ewm.varByKey(frame.df, key, orderCol, idCol, c, alpha, as, ignoreNa)
    sel(d, as, s"${as}_std")
  }

  /** `ewm.cov(other, bias=False)` plus `<as>_corr` = `ewm.corr(other)`. */
  def cov(x: String, y: String, as: String): Frame = {
    require(adjust, "ewm.cov is defined for adjust=True")
    sel(Ewm.covByKey(frame.df, key, orderCol, idCol, x, y, alpha, as, ignoreNa),
      as, s"${as}_corr")
  }
}
