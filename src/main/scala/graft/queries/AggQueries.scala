package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{Frame, SortKey}
import graft.functions.Stats
import QueryKit._

/**
 * §2.4 aggregations + §2.5 groupby aggregates
 * (reference: modin/core/storage_formats/pandas/query_compiler.py:976-1159
 * TreeReduce/Reduce registrations; base QC:3500-3869 groupby family).
 *
 * Floating-point aggregates are rounded in BOTH the Spark plan and the
 * oracle SQL: Spark's partial aggregation sums in partition order, DuckDB in
 * file order, so raw doubles differ in the last ulp.
 */
object AggQueries {

  val all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Flagship: TPC-H Q1 shape. groupby_sum/mean/count (base QC:3668,3847,
    // 3500) via one partial+final HashAggregate; the shipdate filter is
    // pushed to the parquet scan.
    // ------------------------------------------------------------------
    Q("q01_groupby_agg_low",
      (s, dir) => {
        val li = f(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupby("l_returnflag", "l_linestatus")
          .agg(
            // money sums fold exact cent units (QueryKit.moneySum) — the
            // only permutation-invariant form at 100x scale; quantity
            // sums are exact already (integers in double, < 2^53), and
            // avgs divide the drift below any rounding quantum
            "sum_qty" -> round(sum(col("l_quantity")), 2),
            "sum_base_price" -> moneySum(col("l_extendedprice")),
            "sum_disc_price" -> moneyDiscSum(col("l_extendedprice"), col("l_discount")),
            "avg_qty" -> round(avg(col("l_quantity")), 4),
            "avg_price" -> round(avg(col("l_extendedprice")), 4),
            "avg_disc" -> round(avg(col("l_discount")), 6),
            "count_order" -> count(lit(1)))
          .sortValues(Seq(SortKey.asc("l_returnflag"), SortKey.asc("l_linestatus"))).df
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(18,0))) AS DOUBLE)
                     / 100.0, 2) AS sum_base_price,
               CAST(round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(18,0))
                               * (100 - CAST(floor(l_discount * 100 + 0.5) AS DECIMAL(18,0))))
                          AS DECIMAL(38,0)) * 0.0001, 2) AS DOUBLE) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      headline = true),

    // Global reductions: count/sum/mean/min/max/std/var/median/nunique
    // (reference QC:976-1159). One Reduce row.
    Q("q02_agg_global",
      (s, dir) => t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        count(col("l_quantity")).as("n_qty"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 4).as("mean_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        round(stddev_samp(col("l_extendedprice")), 4).as("std_price"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(Stats.median(col("l_extendedprice")), 4).as("median_price"),
        countDistinct(col("l_partkey")).as("nunique_part"),
        // parquet timestamp[ms] loads as TIMESTAMP_NTZ; session TZ is UTC
        // so the cast is the identity mapping DuckDB's epoch_ms applies.
        unix_millis(min(col("l_shipdate")).cast("timestamp")).as("min_ship_ms")),
      Some("""
        SELECT count(*) AS n,
               count(l_quantity) AS n_qty,
               round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_extendedprice), 4) AS mean_price,
               min(l_quantity) AS min_qty,
               max(l_quantity) AS max_qty,
               round(stddev_samp(l_extendedprice), 4) AS std_price,
               round(var_samp(l_quantity), 4) AS var_qty,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
               count(DISTINCT l_partkey) AS nunique_part,
               epoch_ms(min(l_shipdate)) AS min_ship_ms
        FROM lineitem""")),

    // High-cardinality groupby (reference groupby_agg; BASELINE bench shape 3).
    Q("q03_groupby_agg_high",
      (s, dir) => f(s, dir, "lineitem")
        .groupby("l_orderkey")
        .agg(
          "sum_qty" -> round(sum(col("l_quantity")), 2),
          "n_lines" -> count(lit(1)),
          "max_price" -> max(col("l_extendedprice")))
        .sortValues(Seq(SortKey.asc("l_orderkey"))).df,
      Some("""
        SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_lines, max(l_extendedprice) AS max_price
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"""),
      headline = true),

    // value_counts (reference modin/pandas/general.py:398).
    Q("q04_value_counts",
      (s, dir) => f(s, dir, "orders").valueCounts("o_orderpriority").df,
      Some("""
        SELECT o_orderpriority, count(*) AS count
        FROM orders GROUP BY o_orderpriority
        ORDER BY count DESC, o_orderpriority ASC""")),

    // value_counts(normalize=True, ascending=True) — proportions divide by
    // the total via a window over the aggregated (|distinct|-row) output.
    Q("q170_value_counts_norm",
      (s, dir) => {
        val vc = f(s, dir, "documents")
          .valueCounts("lang", normalize = true, ascending = true)
        Frame(vc.df.select(col("lang"), col("count"),
          round(col("proportion"), 6).as("proportion"))).df
      },
      Some("""
        SELECT lang, count(*) AS count,
               round(count(*) / (sum(count(*)) OVER ()), 6) AS proportion
        FROM documents GROUP BY lang
        ORDER BY count ASC, lang ASC""")),

    // drop_duplicates keep='last' / keep=False (pandas keep options):
    // last = keep-first under the reversed order; none = per-group count
    // filter (no ordered window). Checked via group-max / singleton sums.
    Q("q178_dedup_keep_variants",
      (s, dir) => {
        val fr = f(s, dir, "orders")
        val ord = Seq(SortKey.asc("o_orderkey"))
        val last = fr.dropDuplicates(Seq("o_custkey"), ord, keep = "last").df
          .agg(sum(col("o_orderkey")).as("s_last"), count(lit(1)).as("n_last"))
        val none = fr.dropDuplicates(Seq("o_custkey"), ord, keep = "none").df
          .agg(sum(col("o_orderkey")).as("s_none"), count(lit(1)).as("n_none"))
        last.crossJoin(none)
      },
      Some("""
        SELECT
          CAST((SELECT sum(mx) FROM (SELECT max(o_orderkey) AS mx FROM orders GROUP BY o_custkey)) AS BIGINT) AS s_last,
          (SELECT count(*) FROM (SELECT 1 FROM orders GROUP BY o_custkey)) AS n_last,
          CAST((SELECT sum(mx) FROM (SELECT max(o_orderkey) AS mx, count(*) AS c
                                     FROM orders GROUP BY o_custkey) WHERE c = 1) AS BIGINT) AS s_none,
          (SELECT count(*) FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey) WHERE c = 1) AS n_none""")),

    // drop_duplicates keep-first under deterministic order (reference QC:2231).
    Q("q05_drop_duplicates",
      (s, dir) => f(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")
        .dropDuplicates(
          Seq("l_returnflag", "l_linestatus"),
          Seq(SortKey.asc("l_orderkey"), SortKey.asc("l_linenumber")))
        .sortValues(Seq(SortKey.asc("l_returnflag"), SortKey.asc("l_linestatus"))).df,
      Some("""
        SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber FROM (
          SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
                 row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                                    ORDER BY l_orderkey, l_linenumber) AS rn
          FROM lineitem) WHERE rn = 1
        ORDER BY l_returnflag, l_linestatus""")),

    // pandas-corrected sample skew/kurt/sem per group (reference
    // groupby_skew base QC:3869, groupby_sem :4046; composed from Spark's
    // population moments — graft.functions.Stats).
    Q("q06_skew_kurt_sem",
      (s, dir) => f(s, dir, "lineitem")
        .groupby("l_returnflag")
        .agg(
          "skew_price" -> roundz(Stats.sampleSkew(col("l_extendedprice")), 6),
          "kurt_price" -> roundz(Stats.sampleKurt(col("l_extendedprice")), 6),
          "sem_price" -> round(Stats.sem(col("l_extendedprice")), 6))
        .sortValues(Seq(SortKey.asc("l_returnflag"))).df,
      Some("""
        SELECT l_returnflag,
               round(skewness(l_extendedprice), 6) + 0.0 AS skew_price,
               round(kurtosis(l_extendedprice), 6) + 0.0 AS kurt_price,
               round(stddev_samp(l_extendedprice) / sqrt(count(l_extendedprice)), 6) AS sem_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Exact median + quantiles per group (reference groupby_median base
    // QC:4180, groupby_quantile :4204; Spark `percentile` is a distributed
    // partial/final agg — no single-task column materialization).
    Q("q07_median_quantile",
      (s, dir) => f(s, dir, "lineitem")
        .groupby("l_linestatus")
        .agg(
          "median_qty" -> round(Stats.median(col("l_quantity")), 4),
          "q25_price" -> round(Stats.quantile(col("l_extendedprice"), 0.25), 4),
          "q75_price" -> round(Stats.quantile(col("l_extendedprice"), 0.75), 4))
        .sortValues(Seq(SortKey.asc("l_linestatus"))).df,
      Some("""
        SELECT l_linestatus,
               round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS q25_price,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS q75_price
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    // idxmax/idxmin (reference QC:1101, groupby_idxmin/idxmax base
    // QC:3548,3566): label of the extremum, ties broken to the smallest label.
    Q("q08_idxminmax",
      (s, dir) => f(s, dir, "lineitem")
        .groupby("l_returnflag")
        .idxminmax("l_extendedprice", "l_orderkey")
        .sortValues(Seq(SortKey.asc("l_returnflag"))).df,
      Some("""
        SELECT l_returnflag,
               min(l_orderkey) FILTER (WHERE rn_min = 1) AS idxmin,
               min(l_orderkey) FILTER (WHERE rn_max = 1) AS idxmax
        FROM (
          SELECT l_returnflag, l_orderkey,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rn_min,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice DESC, l_orderkey ASC) AS rn_max
          FROM lineitem)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // mode with deterministic ties (reference QC:2683).
    Q("q09_mode",
      (s, dir) => {
        val vc = f(s, dir, "lineitem").valueCounts("l_quantity")
        vc.head(1).select("l_quantity").df
      },
      Some("""
        SELECT l_quantity FROM (
          SELECT l_quantity, count(*) AS c FROM lineitem
          GROUP BY l_quantity ORDER BY c DESC, l_quantity ASC LIMIT 1)""")),

    // corr/cov matrix entries (reference aggregations.py:31-595
    // CorrCovBuilder — single-pass moments; Spark's corr/covar_samp are the
    // same partial-aggregate physics per pair).
    Q("q21_corr_cov",
      (s, dir) => t(s, dir, "lineitem").agg(
        roundz(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        roundz(corr(col("l_discount"), col("l_extendedprice")), 6).as("corr_disc_price"),
        roundz(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price")),
      Some("""
        SELECT round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
               round(corr(l_discount, l_extendedprice), 6) + 0.0 AS corr_disc_price,
               round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS cov_qty_price
        FROM lineitem""")),

    // describe (reference QC:2388) — count/mean/std/min/q25/median/q75/max.
    Q("q22_describe",
      (s, dir) => t(s, dir, "orders").agg(
        count(col("o_totalprice")).as("count"),
        round(avg(col("o_totalprice")), 4).as("mean"),
        round(stddev_samp(col("o_totalprice")), 4).as("std"),
        round(min(col("o_totalprice")), 2).as("min"),
        round(Stats.quantile(col("o_totalprice"), 0.25), 4).as("q25"),
        round(Stats.median(col("o_totalprice")), 4).as("median"),
        round(Stats.quantile(col("o_totalprice"), 0.75), 4).as("q75"),
        round(max(col("o_totalprice")), 2).as("max")),
      Some("""
        SELECT count(o_totalprice) AS count,
               round(avg(o_totalprice), 4) AS mean,
               round(stddev_samp(o_totalprice), 4) AS std,
               round(min(o_totalprice), 2) AS min,
               round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
               round(quantile_cont(o_totalprice, 0.5), 4) AS median,
               round(quantile_cont(o_totalprice, 0.75), 4) AS q75,
               round(max(o_totalprice), 2) AS max
        FROM orders""")),

    // is_monotonic_increasing (reference base QC:2006 — map+reduce over
    // boundary values; pandas semantics are NON-strict, ties allowed).
    // Uses ops.Monotonic's per-partition boundary plan: an unpartitioned
    // lag window would funnel all rows into one task — the
    // single-partition hazard this op is the canonical example of.
    // Checked columns are o_orderdate / o_totalprice UNDER the declared
    // o_orderkey order (checking the order key against itself would be
    // vacuously true).
    Q("q23_is_monotonic",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val (dateInc, _) = graft.ops.Monotonic.check(
          orders.withColumn("__d__", unix_micros(col("o_orderdate").cast("timestamp"))),
          "o_orderkey", "__d__")
        val (priceInc, priceDec) = graft.ops.Monotonic.check(orders, "o_orderkey", "o_totalprice")
        val spark = s
        import spark.implicits._
        Seq((dateInc, priceInc, priceDec))
          .toDF("date_monotonic", "price_monotonic_inc", "price_monotonic_dec")
      },
      Some("""
        SELECT bool_and(d_ok) AS date_monotonic,
               bool_and(p_inc) AS price_monotonic_inc,
               bool_and(p_dec) AS price_monotonic_dec
        FROM (
          SELECT coalesce(o_orderdate >= lag(o_orderdate) OVER w, true) AS d_ok,
                 coalesce(o_totalprice >= lag(o_totalprice) OVER w, true) AS p_inc,
                 coalesce(o_totalprice <= lag(o_totalprice) OVER w, true) AS p_dec
          FROM orders
          WINDOW w AS (ORDER BY o_orderkey))""")),

    // equals via symmetric EXCEPT ALL emptiness (reference base QC:1164).
    Q("q24_equals",
      (s, dir) => {
        val a = t(s, dir, "region")
        val b = t(s, dir, "region").filter(col("r_regionkey") >= 0)
        val d1 = a.exceptAll(b).count()
        val d2 = b.exceptAll(a).count()
        val spark = s
        import spark.implicits._
        Seq((d1 == 0 && d2 == 0)).toDF("equals")
      },
      Some("""
        SELECT (SELECT count(*) FROM (SELECT * FROM region EXCEPT ALL SELECT * FROM region WHERE r_regionkey >= 0)) = 0
           AND (SELECT count(*) FROM (SELECT * FROM region WHERE r_regionkey >= 0 EXCEPT ALL SELECT * FROM region)) = 0
           AS equals""")))
}
