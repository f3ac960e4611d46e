package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, LocalTableScanExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.queries.Registry

/** PLANS.md's per-plan review checklist as FAILING ASSERTIONS — a future
  * query that ships a scale-hostile plan turns `sbt test` red instead of
  * waiting for a human to diff the regenerated document. The audited
  * properties are the ones the scale story rests on:
  *
  *   1. no `CartesianProduct` anywhere (a data-sized cartesian is never
  *      the right plan for any registered query);
  *   2. every `BroadcastNestedLoopJoin`'s broadcast side is PROVABLY
  *      bounded — a global (groupless) aggregate, a limit, a literal
  *      table, or a ≤k-row construction thereof — so the nested loop is
  *      a constant-side map, not an O(n·m) blowup;
  *   3. shuffle budgets: the canonical plans' exchange counts are pinned
  *      (an extra exchange in q03's groupby or q31's join is a plan
  *      regression even when results stay correct);
  *   4. pushdown: plans that exist to prove scan-level pruning must show
  *      `PushedFilters` reaching the parquet scan.
  *
  * Plans are built at sf0.001 with AQE OFF (the initial plan is what the
  * optimizer committed to; AQE can only improve it at runtime, and the
  * pinned invariants are properties of the initial shape). Side-effectful
  * registry queries (IO round-trips, streaming replays) execute those
  * effects once here — same contract as `tools.ExplainAudit`.
  *
  * Seed/refresh the budget pins with
  * `GRAFT_PLAN_RECORD=1 sbt "testOnly graft.PlanAuditSpec"` — it prints
  * the live counts for every pinned query instead of asserting. */
class PlanAuditSpec extends SparkSuite {

  private val record = sys.env.contains("GRAFT_PLAN_RECORD")

  /** name -> (physical plan, formatted explain). Built once, AQE off. */
  private lazy val plans: Map[String, (SparkPlan, String)] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Registry.all.map { q =>
      val qe = q.fn(spark, sfDir).queryExecution
      q.name -> (qe.executedPlan,
        qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    }.toMap
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def shuffles(p: SparkPlan): Int =
    p.collectWithSubqueries { case e: ShuffleExchangeExec => e }.size

  /** A subtree is provably bounded if Catalyst could bound it too: a
    * groupless aggregate (≤1 row), a limit, a literal local table, or a
    * grouped aggregate over an already-bounded input (the quartile /
    * histogram-span sides: ≤k rows by the sketch contract documented at
    * the call site). */
  private def provablyBounded(p: SparkPlan): Boolean = p.find {
    case a: HashAggregateExec if a.groupingExpressions.isEmpty => true
    case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => true
    case a: SortAggregateExec if a.groupingExpressions.isEmpty => true
    case _: LocalTableScanExec => true
    case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec => true
    case _ => false
  }.isDefined

  /** Grouped-aggregate broadcast sides whose row bound is an argument at
    * the implementation site, not a plan-tree property (quantile pivots:
    * ≤|qs| rows; per-group describe rows: ≤|groups| of a dimension-sized
    * key). Each entry cites where the bound is argued AND pins the
    * expected count of such contract-bounded BNLJ nodes — the exemption
    * is per-NODE, not per-query: a second unbounded BNLJ creeping into
    * an exempted plan fails the audit instead of riding the name. */
  private val boundedByContract: Map[String, (Int, String)] = Map(
    // histogram-quantile pivot sides: ≤|qs| rows (ops/Sketch.scala quantile
    // aggs produce one row per requested quantile before the cross join)
    "q264_quantile_sketch" -> (1, "ops/Sketch.quantileQuantizedBy: one row per quantile"),
    "q265_groupby_quantile_sketch" -> (1, "ops/Sketch.quantileQuantizedBy grouped: rows = groups × quantiles, group key is dimension-sized"),
    "q269_describe_sketch" -> (1, "ops/Sketch.describeQuantizedBy: quartile side ≤ 3 rows per group"),
    "q270_weighted_quantile_sketch" -> (1, "ops/Sketch.weightedQuantileQuantizedBy: one row per quantile"),
    "q275_groupby_describe_sketch" -> (1, "ops/Sketch.describeQuantizedBy grouped: quartiles per dimension-sized group"),
    "q272_groupby_weighted_quantile" -> (1, "ops/Sketch.weightedQuantileQuantizedBy grouped"),
    // broadcast centroid / codebook / query-row sides: k-bounded by
    // construction and/or runtime-guarded with require()
    "q107_ann_brute" -> (1, "functions/Similarity.topKBruteForce: require(nQ <= maxQueries) guards the broadcast query side"),
    "q134_ann_ivf" -> (1, "ops/Kmeans: centroids side is k rows by construction, broadcast()"),
    "q231_ann_pq" -> (1, "ops/Pq: codebook side is m×ksub rows (constant), broadcast()"),
    "q148_embedding_neardup" -> (1, "ops/Dedup.embeddingPairsLsh/Brute: require(maxRows) valve on the broadcast side"),
    "q229_semantic_dedup" -> (1, "ops/Kmeans.semDedup: centroid side is k rows by construction, broadcast()"),
    "q192_kendall" -> (1, "ops/Rank.scala:123: marginals/tie-count sides are per-column aggregates over a bounded column set"),
    // reference semantics that ARE a cross product on purpose
    "q38_merge_cross" -> (1, "pandas merge(how='cross') on dimension tables; the small side is broadcast explicitly — the op is the user's cartesian"),
    "q120_repeat_qcut" -> (1, "quartile-bin × region-count pivot: both sides grouped on ≤5-value keys (ReshapeExtraQueries q120)")
  )

  /** The per-node BNLJ audit, factored so a spec-level test can feed it
    * a synthetic offender: counts BNLJs whose NEITHER side is provably
    * bounded and returns a violation message when that count exceeds the
    * query's contract allowance (0 without an entry). */
  private def bnljViolation(name: String, p: SparkPlan,
      contract: Map[String, (Int, String)]): Option[String] = {
    val unbounded = p.collectWithSubqueries { case j: BroadcastNestedLoopJoinExec => j }
      .count(j => !provablyBounded(j.left) && !provablyBounded(j.right))
    val allowed = contract.get(name).map(_._1).getOrElse(0)
    if (unbounded > allowed)
      Some(s"$name: $unbounded contract-unbounded BNLJ nodes > $allowed allowed")
    else None
  }

  test("no plan contains a CartesianProduct") {
    val offenders = plans.collect {
      case (name, (p, _)) if p.collectWithSubqueries {
        case c: CartesianProductExec => c }.nonEmpty => name
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("every boundedByContract key names a live registry plan") {
    // same existence rule the shuffle-budget map enforces — a renamed
    // query must take its exemption contract with it, not orphan it
    boundedByContract.keys.foreach { n =>
      assert(plans.contains(n), s"boundedByContract names a query that no longer exists: $n")
    }
  }

  test("every BroadcastNestedLoopJoin build side is provably bounded") {
    val offenders = plans.toSeq.flatMap { case (name, (p, _)) =>
      bnljViolation(name, p, boundedByContract)
    }
    assert(offenders.isEmpty,
      s"unbounded BNLJ build side in: ${offenders.sorted.mkString("; ")}")
  }

  test("a second unbounded BNLJ fails the audit even under a contract") {
    // synthetic offender: two no-condition broadcast joins between
    // unbounded (Range) sides → two BNLJ nodes, neither provably bounded
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val twoBnlj = try {
      val a = spark.range(100).toDF("a")
      val b = spark.range(100).toDF("b")
      val c = spark.range(100).toDF("c")
      a.join(org.apache.spark.sql.functions.broadcast(b))
        .join(org.apache.spark.sql.functions.broadcast(c))
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val n = twoBnlj.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec => j }.size
    assert(n == 2, s"synthetic plan should contain 2 BNLJs, got $n")
    val contract = Map("synthetic" -> (1, "allows exactly one"))
    assert(bnljViolation("synthetic", twoBnlj, contract).isDefined,
      "a 1-node contract must not excuse a second unbounded BNLJ")
    assert(bnljViolation("unlisted", twoBnlj, contract).isDefined,
      "an uncontracted plan with unbounded BNLJs must fail")
  }

  test("canonical plans keep their shuffle budgets") {
    // name -> max ShuffleExchange count (AQE-off initial plan, sf0.001).
    // An increase means a new exchange crept into a plan whose shuffle
    // structure is the documented scale argument — investigate before
    // re-pinning. (Broadcast exchanges are deliberately NOT counted:
    // moving a dimension join to broadcast is an improvement.)
    // live counts recorded 2026-08-15 (round 11) via GRAFT_PLAN_RECORD;
    // bench headliners (BENCH q01/q13/q30/q40/q60/q70/q90/q100) pinned
    // 2026-08-16 (round 14) so a shape change anywhere in the bench
    // surface turns `sbt test` red — the r10-r13 bench-noise saga's
    // regression arbiter (BASELINE.md) is the PLAN, not the timing.
    val budget = Map(
      "q01_groupby_agg_low" -> 2,    // partial/final agg exchange + output sort
      "q13_parquet_roundtrip" -> 2,  // post-roundtrip agg exchange + output sort
      "q30_join_broadcast" -> 2,     // dim side broadcasts (uncounted); agg + sort
      "q40_sort_global" -> 1,        // single range-partition exchange
      "q60_scan_filter_project" -> 1, // pushdown scan; output sort only
      "q70_string_funcs" -> 1,       // narrow maps; output sort only
      "q90_resample_hour" -> 3,      // bucket agg + regrid + output sort
      "q100_dedup_exact_groups" -> 2, // fingerprint group exchange + sort
      "q03_groupby_agg_high" -> 2,   // partial/final agg exchange + output sort
      "q31_join_smj" -> 4,           // two scan shuffles + join + output sort
      "q50_window_cumsum" -> 2,      // group exchange reused by window + sort
      "q57_global_cumsum" -> 4,      // range-part + block prefix + sort
      "q106_jaccard_pairs" -> 2,     // band self-join + pair distinct (verify attaches ride AQE-broadcast)
      "q168_neardup_dedup" -> 1,     // output sort; the anti join broadcasts CC's measured labels
      "q175_range_join" -> 1,        // one bucket equi-join exchange, residual filter map-side
      "q206_matmul" -> 4,            // contraction exchange + (i,j) agg pair + sort
      "q248_embedding_covariance" -> 4, // d² partial/final moments + output sort
      "q262_ndv_sketch" -> 4         // KMV group exchange + estimate + sort
    )
    val live = budget.keys.toSeq.sorted.map { n =>
      assert(plans.contains(n), s"budget names a query that no longer exists: $n")
      n -> shuffles(plans(n)._1)
    }
    if (record) live.foreach { case (n, c) => info(s"$n shuffles=$c") }
    else live.foreach { case (n, c) =>
      assert(c <= budget(n), s"$n: $c shuffles > pinned ${budget(n)}")
    }
  }

  test("pushdown witnesses show PushedFilters at the scan") {
    // queries whose purpose includes proving scan-level pruning
    val witnesses = Seq("q184_zorder_roundtrip", "q60_scan_filter_project",
      "q277_index_surgery") // xs + truncate predicates must reach the scan
    witnesses.foreach { n =>
      assert(plans.contains(n), s"pushdown witness missing: $n")
      val f = plans(n)._2
      assert(f.contains("PushedFilters: ["),
        s"$n: no PushedFilters section in the formatted plan")
      assert(!f.contains("PushedFilters: []"),
        s"$n: PushedFilters is empty — the filter no longer reaches the scan")
    }
  }
}
