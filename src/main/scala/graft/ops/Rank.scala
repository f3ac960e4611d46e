package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.SortKey

/**
 * Global (ungrouped) rank-based statistics: pandas `rank(method='average')`
 * at scale, Spearman correlation, and `Series.autocorr`.
 *
 * (reference: modin base query_compiler rank → default pandas rank per
 * column partition + global offset pass; corr(method='spearman') defaults
 * to pandas, single-node — this formulation is the distributed design.)
 *
 * The naive global rank — `rank().over(Window.orderBy(v))` — funnels every
 * row through one task. This instead ranks via the DISTINCT-value table:
 *
 *   1. `groupBy(v).count()` — one hash aggregate (map-side combined);
 *   2. exclusive prefix of counts over the distinct table, value-ordered,
 *      with the two-phase parallel prefix ([[Cumulative.globalRunning]] —
 *      range shuffle + per-partition window + tiny offset broadcast);
 *   3. average rank of value v = (#below v) + (#equal v + 1) / 2 —
 *      attached back to the data with a hash equi-join on v.
 *
 * Every stage is linear and fully parallel; the distinct table is at most
 * data-sized (continuous values) and usually far smaller.
 */
object Rank {

  /** Attach pandas `rank(method='average', na_option='keep')` of
    * `valueCol` as `outCol`. Nulls AND NaNs rank as null and do not
    * consume ranks (pandas keep semantics treats NaN as missing; Spark
    * otherwise sorts NaN as the largest double, which would hand it a
    * real rank). */
  def withAvgRank(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    require(!df.columns.contains(outCol), s"withAvgRank: $outCol already exists")
    val cnt = "__cnt__"
    val cum = "__cum__"
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val present = df.schema(valueCol).dataType match {
      case DoubleType | FloatType => col(valueCol).isNotNull && !isnan(col(valueCol))
      case _ => col(valueCol).isNotNull
    }
    val counts = df.filter(present)
      .groupBy(col(valueCol)).agg(count(lit(1)).as(cnt))
    val prefixed = Cumulative.globalRunning(
      counts, Seq(SortKey.asc(valueCol)), "sum", Seq((cnt, cum)))
    val ranks = prefixed.select(
      col(valueCol),
      (col(cum) - col(cnt) + (col(cnt) + lit(1)) / 2.0).as(outCol))
    df.join(ranks, Seq(valueCol), "left")
  }

  /** Spearman rank correlation of each (anchor, other) column pair — one
    * row, one column per pair, Pearson over average ranks. Rows are
    * ranked per column over that column's non-null values; Spark's
    * `corr` then skips pairwise-incomplete rows (matches pandas when the
    * columns are null-free; with nulls pandas re-ranks the pairwise
    * subset — documented deviation, COVERAGE.md). */
  def spearman(df: DataFrame, anchor: String, others: Seq[String]): DataFrame = {
    val cols = anchor +: others
    val ranked = cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      withAvgRank(d, c, s"__rk${i}__")
    }
    ranked.agg(
      corr(col("__rk0__"), col("__rk1__")).as(s"spearman_${others.head}"),
      others.tail.zipWithIndex.map { case (c, i) =>
        corr(col("__rk0__"), col(s"__rk${i + 2}__")).as(s"spearman_$c")
      }: _*)
  }

  /** corr(method='kendall') — tau-b, EXACT, via the joint contingency
    * table (reference defaults kendall to single-node pandas, which is
    * O(n log n) but driver-bound).
    *
    * All-pairs concordance over n rows is O(n²) and unshippable; but
    * concordant/discordant/tied pair counts depend only on the JOINT
    * VALUE DISTRIBUTION. So: one distributed `groupBy(x, y).count()`
    * (linear, map-side combined), then a self-join of the contingency
    * cells (cells², on a table of |X|·|Y| cells, not n rows) scoring
    * sign(x2-x1)·sign(y2-y1) weighted by n1·n2. Exact for any data;
    * efficient when the columns are discrete-ish (|cells| ≪ n — the
    * common case for ratings/categories/quantities). `maxCells` fails
    * fast past that regime rather than degrading to a silent n²-like
    * join (same valve discipline as transpose/embeddingPairsBrute).
    *
    * tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with n0 = n(n-1)/2,
    * n1/n2 = tied-pair counts per column. Null rows drop (pandas). */
  def kendall(df: DataFrame, xCol: String, yCol: String,
      maxCells: Long = 100000L): DataFrame = {
    // materialized: the guard count, both self-join sides and the three
    // marginal aggregates all read the contingency table
    val cells = materialize(df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n")), "kendall")
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"kendall contingency has $nCells cells > maxCells=$maxCells — " +
        "near-continuous columns make the cell self-join quadratic; " +
        "bucket the values first or raise maxCells explicitly")
    val a = cells.select(col("x").as("x1"), col("y").as("y1"), col("n").as("n1"))
    val b = cells.select(col("x").as("x2"), col("y").as("y2"), col("n").as("n2"))
    // each unordered cell pair once (strict x order; x-ties contribute
    // no concordance sign and are handled by the tie terms)
    // all pair-count arithmetic in double: n·(n-1)/2 in long overflows
    // past ~4.3e9 rows (and the n1·n2 products sooner), which under ANSI
    // mode would throw at exactly the scale this module targets; tau_b
    // is a double anyway, and the oracle already divides by 2.0
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val pairs = a.join(b, col("x1") < col("x2"))
      .agg(
        sum(when(col("y1") < col("y2"), n1d * n2d).otherwise(0.0)).as("conc"),
        sum(when(col("y1") > col("y2"), n1d * n2d).otherwise(0.0)).as("disc"))
    val marginals = cells.agg(sum(col("n")).as("ntot"))
    val xTies = cells.groupBy(col("x")).agg(sum(col("n")).as("nx"))
      .agg(sum(col("nx").cast("double") * (col("nx").cast("double") - 1) / 2).as("n1ties"))
    val yTies = cells.groupBy(col("y")).agg(sum(col("n")).as("ny"))
      .agg(sum(col("ny").cast("double") * (col("ny").cast("double") - 1) / 2).as("n2ties"))
    val ntotD = col("ntot").cast("double")
    pairs.crossJoin(marginals).crossJoin(xTies).crossJoin(yTies)
      .select(
        ((col("conc") - col("disc")) /
          sqrt((ntotD * (ntotD - 1) / 2 - col("n1ties")) *
            (ntotD * (ntotD - 1) / 2 - col("n2ties"))))
          .as("tau_b"))
  }

  /** pandas `Series.autocorr(lag)`: Pearson corr of the value column with
    * itself shifted by `lag` positions under the declared order. The
    * shift is an equi-join on adjacent positions of the materialized
    * block-offset row order (the q117 pct_change discipline) — no
    * unpartitioned window. */
  def autocorr(df: DataFrame, order: Seq[SortKey], valueCol: String,
      lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0), "autocorr: lags must be positive")
    val pos = graft.api.Frame.RowOrder
    // order.map(_.c) — the bare key columns; toColumn yields SortOrder
    // expressions, which only sorts accept
    val ro = RowOrder.withRowOrder(df.select(order.map(_.c) :+ col(valueCol): _*), order)
      .select(col(pos), col(valueCol))
    val joined = lags.foldLeft(ro) { case (d, lag) =>
      d.join(
        ro.select((col(pos) - lag).as(pos), col(valueCol).as(s"__lead${lag}__")),
        Seq(pos), "left")
    }
    joined.agg(
      corr(col(valueCol), col(s"__lead${lags.head}__")).as(s"autocorr_${lags.head}"),
      lags.tail.map(l => corr(col(valueCol), col(s"__lead${l}__")).as(s"autocorr_$l")): _*)
  }
}
