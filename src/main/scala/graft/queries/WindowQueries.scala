package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.{Frame, SortKey}
import graft.ops.Cumulative
import QueryKit._

/**
 * §2.5 groupby window ops + §2.6 rolling/expanding/cumulative
 * (reference: base query_compiler.py:3906-4468 groupby cumsum/shift/rank;
 * :1475-1783 rolling/expanding; :1475-1585 global cumulatives).
 *
 * Every per-group op here is a window PARTITIONED BY the group keys —
 * one hash shuffle on the keys, parallel across groups, no global
 * ordering. The one genuinely global cumulative (q57) uses the two-phase
 * parallel-prefix plan in ops.Cumulative instead of an unpartitioned
 * window (which would funnel 100 TB into a single task).
 */
object WindowQueries {

  private def ord = Seq(SortKey.asc("o_orderdate"), SortKey.asc("o_orderkey"))

  val all: Seq[Q] = Seq(

    // groupby cumsum (BASELINE shape 6): running revenue per customer.
    Q("q50_window_cumsum",
      (s, dir) => f(s, dir, "orders")
        .groupby("o_custkey")
        .cumsum("o_totalprice", "cum_total", ord)
        .selectExprs(col("o_orderkey"), col("o_custkey"),
          round(col("cum_total"), 2).as("cum_total"))
        .sortValues(Seq(SortKey.asc("o_orderkey"))).df,
      Some("""
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_total
        FROM orders ORDER BY o_orderkey"""),
      headline = true),

    // q50's semantics under the skew-safe physics: the SAME oracle SQL as
    // q50, computed via Cumulative.groupedRunning (hot group split across
    // range partitions + boundary-offset stitch) instead of one window
    // task per group — proving the hot-key path is semantically
    // identical to the plain window it stands in for under skew.
    // Summed through decimal(30,6) on BOTH sides: groupedRunning's
    // chunk-then-prefix association order differs from the oracle's
    // strictly sequential window sum, so a double sum could land on the
    // other side of a half-cent round tie (ADVICE r7). Decimal makes both
    // sums exact → association-independent → the round is deterministic.
    Q("q216_window_cumsum_skewsafe",
      (s, dir) => f(s, dir, "orders")
        .withColumn("__price_dec__", col("o_totalprice").cast("decimal(30,6)"))
        .groupby("o_custkey")
        .cumsumSkewSafe("__price_dec__", "cum_total", ord)
        .selectExprs(col("o_orderkey"), col("o_custkey"),
          round(col("cum_total"), 2).cast("double").as("cum_total"))
        .sortValues(Seq(SortKey.asc("o_orderkey"))).df,
      Some("""
        SELECT o_orderkey, o_custkey,
               cast(round(sum(cast(o_totalprice AS decimal(30,6))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS double) AS cum_total
        FROM orders ORDER BY o_orderkey""")),

    // groupby shift/diff/pct_change (reference base QC:4324,4247,4260).
    Q("q51_shift_diff",
      (s, dir) => {
        val g = f(s, dir, "orders").groupby("o_custkey")
        g.shift("o_totalprice", "prev_total", 1, ord)
          .groupby("o_custkey")
          .diff("o_totalprice", "d_total", ord)
          .groupby("o_custkey")
          .pctChange("o_totalprice", "pct", ord)
          .selectExprs(col("o_orderkey"),
            round(col("prev_total"), 2).as("prev_total"),
            round(col("d_total"), 2).as("d_total"),
            round(col("pct"), 6).as("pct"))
          .sortValues(Seq(SortKey.asc("o_orderkey"))).df
      },
      Some("""
        SELECT o_orderkey,
               round(prev_total, 2) AS prev_total,
               round(o_totalprice - prev_total, 2) AS d_total,
               round((o_totalprice - prev_total) / prev_total, 6) AS pct
        FROM (SELECT o_orderkey, o_totalprice,
                     lag(o_totalprice) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev_total
              FROM orders)
        ORDER BY o_orderkey""")),

    // groupby rank / dense_rank / row_number (reference base QC:4068).
    Q("q52_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
        val byPrice = w.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Frame(t(s, dir, "orders")
          .select(col("o_orderkey"),
            rank().over(w.orderBy(col("o_totalprice").desc)).cast("long").as("rnk"),
            dense_rank().over(w.orderBy(col("o_totalprice").desc)).cast("long").as("drnk"),
            row_number().over(byPrice).cast("long").as("rn")))
          .sortValues(Seq(SortKey.asc("o_orderkey"))).df
      },
      Some("""
        SELECT o_orderkey,
               rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,
               dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders ORDER BY o_orderkey""")),

    // pandas rank method='average'/'max' (the pandas DEFAULT is average —
    // SQL rank() is pandas method='min'): min-rank + same-value tie count,
    // both windows share one partitioning, no extra shuffle. Oracle
    // restates the identity independently.
    Q("q165_rank_avg_max",
      (s, dir) => {
        val ranked = f(s, dir, "orders").groupby("o_orderpriority")
          .rank("o_totalprice", "avg_rnk", method = "average")
          .groupby("o_orderpriority")
          .rank("o_totalprice", "max_rnk", method = "max")
        Frame(ranked.df.select(col("o_orderkey"), col("avg_rnk"),
          col("max_rnk").cast("long").as("max_rnk")))
          .sortValues(Seq(SortKey.asc("o_orderkey"))).df
      },
      Some("""
        SELECT o_orderkey,
               rank() OVER w + (count(*) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1) / 2.0
                 AS avg_rnk,
               rank() OVER w + count(*) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1
                 AS max_rnk
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        ORDER BY o_orderkey""")),

    // rank(pct=True): average-rank pct divides by the group's valid
    // count; dense pct divides by the DISTINCT value count (the pandas
    // rule). Same single window partitioning as q165 — the dense
    // denominator is a collect_set size over the group, no extra
    // shuffle. Oracle joins a distinct-count CTE (DuckDB windows don't
    // take DISTINCT aggregates).
    Q("q202_rank_pct",
      (s, dir) => {
        val ranked = f(s, dir, "orders").groupby("o_orderpriority")
          .rank("o_totalprice", "avg_pct", method = "average", pct = true)
          .groupby("o_orderpriority")
          .rank("o_totalprice", "dense_pct", method = "dense", pct = true)
        Frame(ranked.df.select(col("o_orderkey"),
          round(col("avg_pct"), 8).as("avg_pct"),
          round(col("dense_pct"), 8).as("dense_pct")))
          .sortValues(Seq(SortKey.asc("o_orderkey"))).df
      },
      Some("""
        WITH dd AS (SELECT o_orderpriority, count(DISTINCT o_totalprice) AS nd
                    FROM orders GROUP BY 1)
        SELECT o_orderkey,
               round((rank() OVER w
                      + (count(*) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1) / 2.0)
                     / count(o_totalprice) OVER (PARTITION BY o_orderpriority), 8) AS avg_pct,
               round(CAST(dense_rank() OVER w AS DOUBLE) / nd, 8) AS dense_pct
        FROM orders JOIN dd USING (o_orderpriority)
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        ORDER BY o_orderkey""")),

    // groupby corr / cov (reference base QC:4112,4134) — promoted from
    // spec-only to oracle-checked: per-group Pearson corr + sample cov,
    // one partial+final aggregate pair.
    Q("q166_groupby_corr_cov",
      (s, dir) => {
        val g = f(s, dir, "lineitem").groupby("l_returnflag")
          .corrCov("l_quantity", "l_extendedprice")
        Frame(g.df.select(col("l_returnflag"),
          roundz(col("corr"), 8).as("corr"), roundz(col("cov"), 4).as("cov")))
          .sortValues(Seq(SortKey.asc("l_returnflag"))).df
      },
      Some("""
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 8) + 0.0 AS corr,
               round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS cov
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // first/last_valid_index (fixtures are null-free, so nulls are
    // derived identically in both engines: click rows lose their value).
    // One aggregate pair, no sort — the min/max-where-valid formulation.
    Q("q167_valid_index",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("v", when(col("event_type") === "click", lit(null))
            .otherwise(col("value")))
          .withColumn("ord", unix_micros(col("ts").cast("timestamp")))
        Frame(ev).validIndexBounds("ord", Seq("v", "event_id"))
      },
      Some("""
        SELECT min(CASE WHEN event_type <> 'click' THEN epoch_us(ts::TIMESTAMP) END) AS v_first,
               max(CASE WHEN event_type <> 'click' THEN epoch_us(ts::TIMESTAMP) END) AS v_last,
               min(epoch_us(ts::TIMESTAMP)) AS event_id_first,
               max(epoch_us(ts::TIMESTAMP)) AS event_id_last
        FROM events""")),

    // groupby head / nth / cumcount (reference base QC:4396,4444,3906).
    Q("q53_group_head_nth",
      (s, dir) => {
        val evOrd = Seq(SortKey.asc("ts"), SortKey.asc("event_id"))
        val headed = f(s, dir, "events").groupby("user_id")
          .headPerGroup(3, evOrd)
        headed.groupby("user_id")
          .cumcount("k", evOrd)
          .selectExprs(col("user_id"), col("event_id"), col("k"))
          .sortValues(Seq(SortKey.asc("user_id"), SortKey.asc("event_id"))).df
      },
      Some("""
        SELECT user_id, event_id, CAST(rn - 1 AS BIGINT) AS k FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn <= 3
        ORDER BY user_id, event_id""")),

    // groupby first/last + ohlc under a declared order (reference base
    // QC:4348,4372,4562) — min_by/max_by aggregates, one shuffle, no window.
    Q("q54_first_last_ohlc",
      (s, dir) => f(s, dir, "events")
        .groupby("user_id")
        .agg(
          "open" -> round(min_by(col("value"), col("event_id")), 4),
          "high" -> round(max(col("value")), 4),
          "low" -> round(min(col("value")), 4),
          "close" -> round(max_by(col("value"), col("event_id")), 4))
        .sortValues(Seq(SortKey.asc("user_id"))).df,
      Some("""
        SELECT user_id,
               round(arg_min(value, event_id), 4) AS open,
               round(max(value), 4) AS high,
               round(min(value), 4) AS low,
               round(arg_max(value, event_id), 4) AS close
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // rolling count-based window: 7-row mean/sum/min/max per user
    // (reference rolling_* QC:1475-1783 — per-group windows, so the
    // partition key keeps it parallel; pandas min_periods=window → rows
    // before the 7th emit NULL, reproduced with a row-count guard).
    Q("q55_rolling",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(-6, 0)
        val cnt = count(lit(1)).over(w)
        // Exact cents sum + half-up integer division (see q56 note).
        val cents = sum((col("value").cast("decimal(18,2)") * 100).cast("long")).over(w)
        val meanExact = floor((cents * 200 + cnt) / (cnt * 2)) / lit(10000.0)
        Frame(t(s, dir, "events").select(
          col("event_id"),
          when(cnt >= 7, meanExact).as("roll_mean"),
          when(cnt >= 7, round(sum(col("value")).over(w), 4)).as("roll_sum"),
          when(cnt >= 7, round(min(col("value")).over(w), 4)).as("roll_min"),
          when(cnt >= 7, round(max(col("value")).over(w), 4)).as("roll_max")))
          .sortValues(Seq(SortKey.asc("event_id"))).df
      },
      Some("""
        SELECT event_id,
               CASE WHEN n >= 7 THEN m END AS roll_mean,
               CASE WHEN n >= 7 THEN round(sm, 4) END AS roll_sum,
               CASE WHEN n >= 7 THEN round(mn, 4) END AS roll_min,
               CASE WHEN n >= 7 THEN round(mx, 4) END AS roll_max
        FROM (
          SELECT event_id,
                 count(*) OVER w AS n,
                 floor((200 * sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w
                        + count(*) OVER w)
                       / (2 * count(*) OVER w)) / 10000.0 AS m,
                 sum(value) OVER w AS sm,
                 min(value) OVER w AS mn, max(value) OVER w AS mx
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        ORDER BY event_id""")),

    // expanding window per user (reference expanding_* QC family):
    // running count/mean since the first event.
    Q("q56_expanding",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        // Mean at 4 decimals via exact integer arithmetic: `value` is a
        // 2-decimal price, so sum in cents (exact long) and apply an
        // explicit half-up division. round(avg(double), 4) is NOT portable:
        // Spark's round goes through the double's shortest decimal repr
        // while DuckDB rounds the exact binary value, so a true tie
        // (e.g. 47.44125) rounds differently in the two engines.
        val n = count(lit(1)).over(w)
        val cents = sum((col("value").cast("decimal(18,2)") * 100).cast("long")).over(w)
        val mean4 = floor((cents * 200 + n) / (n * 2)) / lit(10000.0)
        Frame(t(s, dir, "events").select(
          col("event_id"),
          n.as("exp_n"),
          mean4.as("exp_mean")))
          .sortValues(Seq(SortKey.asc("event_id"))).df
      },
      Some("""
        SELECT event_id,
               count(*) OVER w AS exp_n,
               floor((200 * sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w
                      + count(*) OVER w)
                     / (2 * count(*) OVER w)) / 10000.0 AS exp_mean
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // GLOBAL cumsum/cummax (reference QC:1475-1585) via the two-phase
    // parallel prefix in ops.Cumulative — the scalable replacement for an
    // unpartitioned window.
    Q("q57_global_cumsum",
      (s, dir) => {
        // Decimal, not double: the parallel prefix adds partition totals in
        // a different association order than a sequential scan, so exact
        // decimal arithmetic is what makes the result order-independent.
        val base = t(s, dir, "orders").select(
          col("o_orderkey"),
          col("o_totalprice").cast("decimal(30,6)").as("o_totalprice"))
        val run = Cumulative.globalRunning(
          base, Seq(SortKey.asc("o_orderkey")), "sum",
          Seq("o_totalprice" -> "cum_total"))
        val run2 = Cumulative.globalRunning(
          run, Seq(SortKey.asc("o_orderkey")), "max",
          Seq("o_totalprice" -> "cum_max"))
        Frame(run2.select(
          col("o_orderkey"),
          round(col("cum_total").cast("double"), 2).as("cum_total"),
          round(col("cum_max").cast("double"), 2).as("cum_max")))
          .sortValues(Seq(SortKey.asc("o_orderkey"))).df
      },
      Some("""
        SELECT o_orderkey,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER w AS DOUBLE), 2) AS cum_total,
               round(CAST(max(CAST(o_totalprice AS DECIMAL(30,6))) OVER w AS DOUBLE), 2) AS cum_max
        FROM orders
        WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY o_orderkey""")))
}
