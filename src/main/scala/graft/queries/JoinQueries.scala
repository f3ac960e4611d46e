package graft.queries

import org.apache.spark.sql.functions._
import graft.api.{Frame, SortKey}
import graft.ops.Joins
import QueryKit._

/**
 * §2.3 joins (reference: modin/core/storage_formats/pandas/merge.py —
 * broadcast path :104-252, range-partitioning SMJ path :39-101;
 * merge_asof base query_compiler.py:1713).
 *
 * Scale notes: the dimension-side joins broadcast explicitly (part is a
 * classic small dim at any SF); the fact⋈fact join pins sort-merge via a
 * hint so the plan at sf0.01 is the plan that runs at 100 TB. Semi/anti
 * joins never materialize right-side payload columns.
 */
object JoinQueries {

  val all: Seq[Q] = Seq(

    // merge broadcast path (reference merge.py:104-252). BASELINE shape 4a.
    // Revenue via QueryKit.moneyDiscSum — exact integer units, so the sum
    // is permutation-invariant at any scale. The naive round(sum(double))
    // form drifted a CENT at the sf1 (10x sf0.1) gate: partial-sum order
    // vs DuckDB's sequential sum crossed a rounding boundary (found by
    // tools/amplify_sf.py, round 14).
    Q("q30_join_broadcast",
      (s, dir) => f(s, dir, "lineitem")
        .mergeOn(f(s, dir, "part"), Seq("l_partkey"), Seq("p_partkey"),
          hint = Some("broadcast"))
        .groupby("p_brand")
        .agg(
          "revenue" -> moneyDiscSum(col("l_extendedprice"), col("l_discount")),
          "n" -> count(lit(1)))
        .sortValues(Seq(SortKey.asc("p_brand"))).df,
      Some("""
        SELECT p_brand,
               CAST(round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(18,0))
                               * (100 - CAST(floor(l_discount * 100 + 0.5) AS DECIMAL(18,0))))
                          AS DECIMAL(38,0)) * 0.0001, 2) AS DOUBLE) AS revenue,
               count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand"""),
      headline = true),

    // merge sort-merge path (reference merge.py:39-101 range-partitioning;
    // pinned with a merge hint so statistics can't flip it to broadcast at
    // toy scale). BASELINE shape 4b.
    Q("q31_join_smj",
      (s, dir) => f(s, dir, "lineitem")
        .mergeOn(f(s, dir, "orders"), Seq("l_orderkey"), Seq("o_orderkey"),
          hint = Some("merge"))
        .groupby("o_orderpriority")
        .agg(
          "n_lines" -> count(lit(1)),
          "sum_qty" -> round(sum(col("l_quantity")), 2),
          "max_total" -> round(max(col("o_totalprice")), 2))
        .sortValues(Seq(SortKey.asc("o_orderpriority"))).df,
      Some("""
        SELECT o_orderpriority, count(*) AS n_lines,
               round(sum(l_quantity), 2) AS sum_qty,
               round(max(o_totalprice), 2) AS max_total
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      headline = true),

    // merge how='left' with misses → nulls (reference merge.py suffix/key
    // handling; left join keeps every left row).
    Q("q32_join_left",
      (s, dir) => f(s, dir, "orders")
        .mergeOn(
          f(s, dir, "customer").filter(col("c_acctbal") > 5000).select("c_custkey", "c_mktsegment"),
          Seq("o_custkey"), Seq("c_custkey"), how = "left", hint = Some("broadcast"))
        .selectExprs(col("o_orderkey"),
          coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
        .sortValues(Seq(SortKey.asc("o_orderkey"))).df,
      Some("""
        SELECT o_orderkey, coalesce(c_mktsegment, 'NONE') AS segment
        FROM orders LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
                               WHERE c_acctbal > 5000) c
          ON o_custkey = c_custkey
        ORDER BY o_orderkey""")),

    // full-outer join / pandas join(how='outer') + align (reference base
    // QC:1067): daily order counts vs daily event counts on the date key.
    Q("q33_join_outer",
      (s, dir) => {
        val od = f(s, dir, "orders")
          .selectExprs(to_date(col("o_orderdate")).as("d"))
          .groupby("d").size("n_orders").df
        val ev = f(s, dir, "events")
          .selectExprs(to_date(col("ts")).as("d"))
          .groupby("d").size("n_events").df
        Frame(Joins.align(od, ev, Seq("d")))
          .selectExprs(col("d").cast("timestamp_ntz").as("d"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_events"), lit(0L)).as("n_events"))
          .sortValues(Seq(SortKey.asc("d"))).df
      },
      Some("""
        SELECT CAST(d AS TIMESTAMP) AS d,
               coalesce(n_orders, 0) AS n_orders,
               coalesce(n_events, 0) AS n_events
        FROM (SELECT CAST(o_orderdate AS DATE) d, count(*) n_orders FROM orders GROUP BY 1) o
        FULL JOIN (SELECT CAST(ts AS DATE) d, count(*) n_events FROM events GROUP BY 1) e
          USING (d)
        ORDER BY d""")),

    // semi / anti joins (reference isin-style merges; left_semi/left_anti
    // never shuffle right-side payload columns).
    Q("q34_semi_anti",
      (s, dir) => {
        val li = f(s, dir, "lineitem")
        val bigParts = f(s, dir, "part").filter(col("p_size") > 40).select("p_partkey")
          .rename("p_partkey" -> "l_partkey")
        val semi = li.semiJoin(bigParts, Seq("l_partkey")).df
          .agg(count(lit(1)).as("n_semi"))
        val anti = li.antiJoin(bigParts, Seq("l_partkey")).df
          .agg(count(lit(1)).as("n_anti"))
        semi.crossJoin(anti)
      },
      Some("""
        SELECT (SELECT count(*) FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)) AS n_semi,
               (SELECT count(*) FROM lineitem
                WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size > 40)) AS n_anti""")),

    // merge_asof backward, by-key (reference base QC:1713 — driver-side
    // pandas there; a distributed union+running-window plan here, one
    // shuffle on the by-key — see graft.ops.Joins.asof). Oracle: DuckDB's
    // native ASOF JOIN.
    Q("q35_merge_asof",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("purchase_value"), col("event_id").as("p_id"))
        val joined = Joins.asof(
          clicks, purchases,
          leftOn = "ts", rightOn = "p_ts",
          leftBy = "user_id", rightBy = "p_user",
          payload = Seq("purchase_value"),
          tieBreak = col("p_id"))
        Frame(joined)
          .selectExprs(col("event_id"),
            round(col("purchase_value"), 4).as("purchase_value"))
          .sortValues(Seq(SortKey.asc("event_id"))).df
      },
      Some("""
        SELECT c.event_id, round(p.value, 4) AS purchase_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        ORDER BY c.event_id""")),

    // merge_asof direction=forward + tolerance: each click matched to the
    // NEXT purchase, nulled when it is more than an hour out — same
    // union+window plan, the window just runs the other way. Tolerance is
    // a post-predicate on the matched time carried through the window
    // struct (µs), so it adds no shuffle.
    Q("q163_asof_forward_tol",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("purchase_value"), col("event_id").as("p_id"))
        val joined = Joins.asof(
          clicks, purchases,
          leftOn = "ts", rightOn = "p_ts",
          leftBy = "user_id", rightBy = "p_user",
          payload = Seq("purchase_value"),
          tieBreak = col("p_id"),
          direction = "forward",
          tolerance = Some(3600L * 1000000L))
        Frame(joined)
          .selectExprs(col("event_id"),
            round(col("purchase_value"), 4).as("purchase_value"))
          .sortValues(Seq(SortKey.asc("event_id"))).df
      },
      Some("""
        SELECT c.event_id,
               round(CASE WHEN p.ts IS NULL OR p.ts > c.ts + INTERVAL 1 HOUR
                          THEN NULL ELSE p.value END, 4) AS purchase_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts <= p.ts
        ORDER BY c.event_id""")),

    // merge_asof direction=nearest: closer of the previous/next purchase,
    // distance ties to backward (the pandas rule). Both one-sided windows
    // run over the SAME unioned, by-key-partitioned frame — nearest costs
    // no extra exchange, only a second window pass.
    Q("q164_asof_nearest",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("purchase_value"), col("event_id").as("p_id"))
        val joined = Joins.asof(
          clicks, purchases,
          leftOn = "ts", rightOn = "p_ts",
          leftBy = "user_id", rightBy = "p_user",
          payload = Seq("purchase_value"),
          tieBreak = col("p_id"),
          direction = "nearest")
        Frame(joined)
          .selectExprs(col("event_id"),
            round(col("purchase_value"), 4).as("purchase_value"))
          .sortValues(Seq(SortKey.asc("event_id"))).df
      },
      Some("""
        SELECT c.event_id, round(CASE
            WHEN b.ts IS NULL AND f.ts IS NULL THEN NULL
            WHEN f.ts IS NULL THEN b.value
            WHEN b.ts IS NULL THEN f.value
            WHEN (c.ts - b.ts) <= (f.ts - c.ts) THEN b.value
            ELSE f.value END, 4) AS purchase_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') b
          ON c.user_id = b.user_id AND c.ts >= b.ts
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') f
          ON c.user_id = f.user_id AND c.ts <= f.ts
        ORDER BY c.event_id""")),

    // Range join as an equi-join: clicks inside ±30 min of any purchase.
    // Buckets sized at the interval width → ≤ 2 bucket rows per interval;
    // the oracle runs the inequality join Spark would have planned as a
    // nested loop.
    Q("q175_range_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("tus"))
        val intervals = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            (col("tus") - 1800L * 1000000L).as("lo"),
            (col("tus") + 1800L * 1000000L).as("hi"))
        Frame(Joins.rangeJoin(clicks, "tus", intervals, "lo", "hi",
          bucketWidth = 3600L * 1000000L)
          .select(col("click_id"), col("purchase_id")))
          .sortValues(Seq(SortKey.asc("click_id"), SortKey.asc("purchase_id"))).df
      },
      Some("""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id
        FROM (SELECT event_id, epoch_us(ts::TIMESTAMP) AS t FROM events
              WHERE event_type = 'click') c
        JOIN (SELECT event_id, epoch_us(ts::TIMESTAMP) AS t FROM events
              WHERE event_type = 'purchase') p
          ON c.t >= p.t - 1800000000 AND c.t <= p.t + 1800000000
        ORDER BY click_id, purchase_id""")),

    // combine_first (reference QC:538): patch missing acctbals from a
    // fallback table after aligning on the key.
    Q("q36_combine_first",
      (s, dir) => {
        val a = t(s, dir, "customer").select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("bal"))
        val b = t(s, dir, "customer").select(
          col("c_custkey"), lit(0.0).as("bal_fallback"))
        Frame(Joins.combineFirst(a, b, Seq("c_custkey"),
          Seq(("bal", "bal_fallback", "bal_patched"))))
          .selectExprs(col("c_custkey"), round(col("bal_patched"), 2).as("bal_patched"))
          .sortValues(Seq(SortKey.asc("c_custkey"))).df
      },
      Some("""
        SELECT c_custkey,
               round(coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0), 2) AS bal_patched
        FROM customer ORDER BY c_custkey""")),

    // merge_ordered (reference base QC:1682): ordered full-outer on the
    // month key across two aggregated series.
    Q("q37_merge_ordered",
      (s, dir) => {
        val a = f(s, dir, "orders")
          .selectExprs(date_trunc("month", col("o_orderdate")).as("m"), col("o_totalprice"))
          .groupby("m").agg("total" -> moneySum(col("o_totalprice"))).df
        val b = f(s, dir, "orders")
          .selectExprs(date_trunc("month", col("o_orderdate")).as("m"), col("o_orderkey"))
          .groupby("m").agg("n" -> count(lit(1))).df
        Frame(Joins.mergeOrdered(a, b, Seq("m")))
          .sortValues(Seq(SortKey.asc("m"))).df
      },
      Some("""
        SELECT coalesce(a.m, b.m) AS m, total, n
        FROM (SELECT date_trunc('month', o_orderdate) m,
                     round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(18,0))) AS DOUBLE) / 100.0, 2) total
              FROM orders GROUP BY 1) a
        FULL JOIN (SELECT date_trunc('month', o_orderdate) m, count(*) n
                   FROM orders GROUP BY 1) b USING (m)
        ORDER BY m""")),

    // merge(how='cross') (pandas 1.2+ cross merge): every (region, nation)
    // pair — Spark crossJoin with the small side broadcast, so the "join"
    // is a map-side expansion with zero shuffles.
    Q("q38_merge_cross",
      (s, dir) => Frame(t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
        .crossJoin(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name")))))
        .sortValues(Seq(SortKey.asc("r_regionkey"), SortKey.asc("n_nationkey"))).df,
      Some("""
        SELECT r_regionkey, r_name, n_nationkey, n_name
        FROM region CROSS JOIN nation
        ORDER BY r_regionkey, n_nationkey""")),

    // Skew-salted join (ops.Scale.saltedJoin): the customer dimension is
    // replicated across salt replicas and each lineitem-derived probe row
    // scatters to one of them, so a pathological hot key spreads over
    // saltFactor tasks. Salting is internal — the result must equal the
    // plain join, which is exactly what the oracle asserts.
    Q("q39_salted_join",
      (s, dir) => {
        val probe = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val build = t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        Frame(graft.ops.Scale.saltedJoin(probe, build, Seq("o_custkey"), saltFactor = 8)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total")))
          .sortValues(Seq(SortKey.asc("c_mktsegment"))).df
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n,
               round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS DECIMAL(18,0))) AS DOUBLE) / 100.0, 2) AS total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // pandas merge(indicator=, validate=) (reference merge.py signature
    // surface): outer merge of orders against a filtered customer dim, the
    // indicator column derived from per-side presence markers (projection
    // only — no extra shuffle), validate='m:1' asserting right-key
    // uniqueness eagerly. The filtered dim manufactures all three
    // indicator values: matched orders (both), orders whose customer was
    // filtered out (left_only), and retained customers with no orders
    // (right_only).
    Q("q159_merge_indicator",
      (s, dir) => {
        val orders = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
          .select(col("o_orderkey"), col("o_custkey"))
        val cust = t(s, dir, "customer").filter(col("c_nationkey") < 8)
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        Frame(orders).merge(Frame(cust), Seq("o_custkey"), how = "outer",
            indicator = Some("merge_ind"), validate = Some("m:1"))
          .groupby("merge_ind").agg(
            "n" -> count(lit(1)),
            "sum_okey" -> sum(coalesce(col("o_orderkey"), lit(0L))))
          .sortValues(Seq(SortKey.asc("merge_ind"))).df
      },
      Some("""
        WITH o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 150000),
             c AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey < 8)
        SELECT CASE WHEN o_orderkey IS NOT NULL AND c_custkey IS NOT NULL THEN 'both'
                    WHEN o_orderkey IS NOT NULL THEN 'left_only'
                    ELSE 'right_only' END AS merge_ind,
               count(*) AS n,
               CAST(sum(coalesce(o_orderkey, 0)) AS BIGINT) AS sum_okey
        FROM o FULL JOIN c ON o.o_custkey = c.c_custkey
        GROUP BY 1 ORDER BY 1""")),

    // GLOBAL merge_asof (pandas by=None — ops/Joins.asofGlobal): the
    // running latest-right-row is a comparable struct folded through the
    // two-phase parallel prefix, so no single-partition window exists
    // anywhere (the by-keyed asof's hazard when by is absent). The
    // oracle runs the one-window union formulation this plan avoids.
    Q("q197_asof_global",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("ts").as("p_ts"), col("value").as("pv"),
            col("event_id").as("p_id"))
        val joined = graft.ops.Joins.asofGlobal(
          clicks, purchases, "ts", "p_ts", Seq("pv", "p_id"), tieBreak = col("p_id"))
        Frame(joined.select(col("event_id"),
          round(col("pv"), 6).as("pv"), col("p_id")))
          .sortValues(Seq(SortKey.asc("event_id"))).df
      },
      Some("""
        WITH u AS (
          SELECT ts, 1 AS tag, NULL AS pv, NULL AS p_id, event_id FROM events
          WHERE event_type = 'click'
          UNION ALL
          SELECT ts, 0 AS tag, value AS pv, event_id AS p_id, event_id FROM events
          WHERE event_type = 'purchase'),
        m AS (
          SELECT event_id, tag,
                 round(last_value(pv IGNORE NULLS)
                   OVER (ORDER BY ts, tag, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS pv,
                 last_value(p_id IGNORE NULLS)
                   OVER (ORDER BY ts, tag, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_id
          FROM u)
        SELECT event_id, pv, p_id FROM m WHERE tag = 1
        ORDER BY event_id""")),

    // Aligned binary arithmetic with fill_value (pandas a.add(b,
    // fill_value=0) — one side missing takes the fill, both-missing
    // stays null) over the q49 align join (Frame.binopFill).
    Q("q205_binop_fill",
      (s, dir) => {
        val a = t(s, dir, "orders").groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).cast("double").as("n_orders"))
        val b = t(s, dir, "customer")
          .select(col("c_custkey").as("k"), (col("c_acctbal") / 1000.0).as("balk"))
        val aligned = Frame(a.join(b, Seq("k"), "full_outer"))
          .binopFill("n_orders", "balk", "add0", "add", 0.0)
          .binopFill("n_orders", "balk", "mul1", "mul", 1.0)
        Frame(aligned.df.select(col("k"),
          round(col("add0"), 6).as("add0"), round(col("mul1"), 6).as("mul1")))
          .sortValues(Seq(SortKey.asc("k"))).df
      },
      Some("""
        WITH a AS (SELECT o_custkey AS k, CAST(count(*) AS DOUBLE) AS n_orders
                   FROM orders GROUP BY 1),
             b AS (SELECT c_custkey AS k, c_acctbal / 1000.0 AS balk FROM customer)
        SELECT k,
               round(CASE WHEN n_orders IS NULL AND balk IS NULL THEN NULL
                          ELSE coalesce(n_orders, 0) + coalesce(balk, 0) END, 6) AS add0,
               round(CASE WHEN n_orders IS NULL AND balk IS NULL THEN NULL
                          ELSE coalesce(n_orders, 1) * coalesce(balk, 1) END, 6) AS mul1
        FROM a FULL OUTER JOIN b USING (k)
        ORDER BY k""")),

    // Distributed matrix multiply (ops/Scale.matmulLong — the at-scale
    // df.dot(df)): COO triples, one equi-join on the contraction index +
    // one groupBy sum. Exact integer cell values so both engines'
    // arithmetic is identical.
    Q("q206_matmul",
      (s, dir) => {
        val a = t(s, dir, "lineitem")
          .groupBy(pmod(col("l_orderkey"), lit(50)).as("i"),
            pmod(col("l_partkey"), lit(20)).as("k"))
          .agg(sum(floor(col("l_quantity")).cast("long")).as("v"))
        val b = t(s, dir, "part")
          .groupBy(pmod(col("p_partkey"), lit(20)).as("k"),
            pmod(col("p_size"), lit(10)).as("j"))
          .agg(count(lit(1)).as("v"))
        Frame(graft.ops.Scale.matmulLong(a, "i", "k", "v", b, "k", "j", "v")
          .select(col("i"), col("j"), col("value").cast("long").as("value")))
          .sortValues(Seq(SortKey.asc("i"), SortKey.asc("j"))).df
      },
      Some("""
        WITH a AS (SELECT l_orderkey % 50 AS i, l_partkey % 20 AS k,
                          sum(CAST(floor(l_quantity) AS BIGINT)) AS av
                   FROM lineitem GROUP BY 1, 2),
             b AS (SELECT p_partkey % 20 AS k, p_size % 10 AS j, count(*) AS bv
                   FROM part GROUP BY 1, 2)
        SELECT i, j, CAST(sum(av * bv) AS BIGINT) AS value
        FROM a JOIN b USING (k)
        GROUP BY i, j ORDER BY i, j""")),

    // merge_asof(by=[user_id, event_type]) — the multi-key by form:
    // each event picks up the latest same-user SAME-TYPE non-null value
    // at or before it (self-enrichment, right side = the value-carrying
    // rows). One composite-key shuffle; the oracle is the running
    // last_value window with the identical visibility ordering (right
    // rows sort before left at equal ts = allow_exact_matches, ties
    // among right rows to the greatest event_id).
    Q("q237_asof_multikey",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val right = ev.filter(col("value").isNotNull)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("value").as("pval"), col("event_id"))
        Frame(graft.ops.Joins.asofByKeys(
          ev.select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
          right, "ts", "ts", Seq("user_id", "event_type"), Seq("user_id", "event_type"),
          Seq("pval"), tieBreak = col("event_id"))
          .select(col("event_id"), round(col("pval"), 4).as("pval")))
          .sortValues(Seq(SortKey.asc("event_id"))).df
      },
      Some("""
        SELECT event_id, round(v, 4) AS pval FROM (
          SELECT event_id,
                 last_value(CASE WHEN value IS NOT NULL THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id, event_type
                         ORDER BY ts,
                                  CASE WHEN value IS NOT NULL THEN 0 ELSE 1 END,
                                  event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
          FROM events)
        ORDER BY event_id""")))
}
