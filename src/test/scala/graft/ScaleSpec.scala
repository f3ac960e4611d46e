package graft

import org.apache.spark.sql.functions._
import graft.ops.Scale

/** Physical-layout tools: the assertions here are about PLANS (shuffle
  * elimination) and result parity, the two things that matter at 100 TB. */
class ScaleSpec extends SparkSuite {

  test("bucketed join on the bucket key plans zero exchanges") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      // the in-memory catalog forgets tables between JVMs but their
      // warehouse dirs persist — clear both before recreating
      Seq("orders_b", "lineitem_b").foreach { tbl =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        val dir = new java.io.File(s"/tmp/graft_warehouse/$tbl")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(dir)
        }
      }
      Scale.writeBucketed(table("orders"), "orders_b", 4, Seq("o_orderkey"))
      Scale.writeBucketed(
        table("lineitem").select("l_orderkey", "l_quantity")
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", 4, Seq("o_orderkey"))
      val joined = Scale.bucketedJoin(spark, "orders_b", "lineitem_b", Seq("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      // parity with the plain join
      val expected = table("orders").join(
        table("lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
          .select("o_orderkey", "l_quantity"), Seq("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    import spark.implicits._
    // pathological skew: 90% of probe rows share one key
    val probe = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i)).toDF("k", "v")
    val build = Seq((1L, "hot"), (950L, "cold")).toDF("k", "tag")
    val salted = Scale.saltedJoin(probe, build, Seq("k"), saltFactor = 8)
    val plain = probe.join(build, Seq("k"))
    assertParity(salted, plain)
  }

  test("twoStageAgg equals direct groupBy for algebraic functions") {
    val direct = table("lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"),
        max(col("l_extendedprice")).as("mx"))
    val staged = Scale.twoStageAgg(
      table("lineitem"), Seq("l_returnflag"), saltBuckets = 8,
      ("sum", "s", col("l_quantity")),
      ("count", "n", lit(1)),
      ("max", "mx", col("l_extendedprice")))
    assertParity(staged, direct)
  }

  test("writeZOrdered round-trips content exactly") {
    val src = table("lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    val path = "/tmp/graft_zorder_roundtrip"
    Scale.writeZOrdered(src, path, Seq("l_orderkey", "l_partkey"),
      bitsPerDim = 6, numFiles = Some(4))
    assertParity(spark.read.parquet(path), src)
  }

  test("writeZOrdered clusters every z-dimension (narrow per-file spans)") {
    val src = table("lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    val zPath = "/tmp/graft_zorder_layout"
    val sortPath = "/tmp/graft_singlesort_layout"
    Scale.writeZOrdered(src, zPath, Seq("l_orderkey", "l_partkey"),
      bitsPerDim = 8, numFiles = Some(16))
    // the single-column baseline: perfectly clustered on l_orderkey,
    // unclustered on l_partkey
    src.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(sortPath)

    // average per-file normalized span of a dimension = the fraction of
    // that dimension's value range a file's min/max stats cover — the
    // quantity parquet row-group pruning keys off
    def avgSpan(path: String, dim: String): Double = {
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(dim)).as("lo"), max(col(dim)).as("hi"))
        .collect()
      val glo = stats.map(_.getAs[Long]("lo")).min.toDouble
      val ghi = stats.map(_.getAs[Long]("hi")).max.toDouble
      stats.map(r => (r.getAs[Long]("hi") - r.getAs[Long]("lo")) / (ghi - glo)).sum / stats.length
    }

    // 16 z-files fix the top 2 bucket bits of BOTH dims: each file spans
    // ~1/4 of each dimension (+ range-sampling slop)
    val zOrder = avgSpan(zPath, "l_orderkey")
    val zPart = avgSpan(zPath, "l_partkey")
    assert(zOrder < 0.5, s"z-order l_orderkey avg span $zOrder should be < 0.5")
    assert(zPart < 0.5, s"z-order l_partkey avg span $zPart should be < 0.5")
    // the baseline is clustered on l_orderkey only; its l_partkey spans
    // are ~the full range, and z-order must beat it decisively there
    val sortPart = avgSpan(sortPath, "l_partkey")
    assert(zPart < 0.6 * sortPart,
      s"z-order l_partkey span $zPart should be well under single-sort $sortPart")
  }

  /** Regex shuffle audit of a query's physical plan: exchange, broadcast,
    * sort-merge and cartesian counts, pinned as assertions. */
  private def planCounts(df: org.apache.spark.sql.DataFrame): (Int, Int, Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    def n(re: String) = re.r.findAllIn(plan).size
    (n("(?<![A-Za-z])Exchange hashpartitioning") + n("(?<![A-Za-z])Exchange rangepartitioning"),
      n("BroadcastHashJoin"), n("SortMergeJoin"), n("CartesianProduct"))
  }

  test("q262's KMV sketch plans one partial/final pair; q261 windows stay per-block") {
    def q(name: String) = queries.Registry.all.find(_.name == name).get.fn(spark, sfDir)
    // q262: the sketch branch must be a map-side-combined udaf — a
    // partial_bottomk before its group-key exchange (so every exchange
    // carries <= k longs per group per task, never the value
    // cardinality) — and the sketch/exact reconciliation join must
    // broadcast the 5-row side, not sort-merge it
    val df262 = q("q262_ndv_sketch")
    val plan262 = df262.queryExecution.executedPlan.toString
    assert(plan262.contains("partial_bottomk"),
      "KMV sketch lost its map-side partial combine")
    // shuffle budget: sketch group-key exchange + the exact-count
    // branch's distinct+group pair + the final presentation sort
    val (sh262, bc262, smj262, cart262) = planCounts(df262)
    assert(sh262 <= 4 && bc262 >= 1 && smj262 == 0 && cart262 == 0,
      s"q262 plan drifted: shuffles=$sh262 bc=$bc262 smj=$smj262 cart=$cart262")
    // q261: three weighted windows over one per-user partition spec —
    // exactly one data-sized hash exchange (the window's partitionBy)
    // plus the final presentation sort, no join of any kind, never an
    // empty-partition-spec global window
    val df261 = q("q261_rolling_win_types")
    val (sh261, bc261, smj261, cart261) = planCounts(df261)
    assert(sh261 == 2 && bc261 == 0 && smj261 == 0 && cart261 == 0,
      s"q261 plan drifted: shuffles=$sh261 bc=$bc261 smj=$smj261 cart=$cart261")
  }

  test("q213-q215 broadcast their small sides; no SMJ or cartesian in the e2e chains") {
    def q(name: String) = queries.Registry.all.find(_.name == name).get.fn(spark, sfDir)
    val (_, bc213, smj213, cart213) = planCounts(q("q213_e2e_customer_features"))
    assert(bc213 >= 1 && smj213 == 0 && cart213 == 0,
      s"q213: want broadcast-only joins, got bc=$bc213 smj=$smj213 cart=$cart213")
    val (_, bc214, smj214, cart214) = planCounts(q("q214_e2e_monthly_revenue"))
    assert(bc214 >= 1 && smj214 == 0 && cart214 == 0,
      s"q214: want broadcast-only joins, got bc=$bc214 smj=$smj214 cart=$cart214")
    val (_, bc215, smj215, cart215) = planCounts(q("q215_e2e_part_pricing"))
    assert(bc215 >= 2 && smj215 == 0 && cart215 == 0,
      s"q215: want broadcast joins + broadcast scalar cross, got bc=$bc215 smj=$smj215 cart=$cart215")
  }

  test("q216's op plans ONE data-sized shuffle: boundary branch reuses the local clustering") {
    // cumsumSkewSafe WITHOUT the trailing sort (that range exchange is
    // the query's, not the op's): the r9 shape is exchange(pid,keys) for
    // the local pass + two tiny exchanges (edge-key aggregate at
    // #partitions rows, boundary carriers at ≤2 rows/partition) + two
    // broadcasts (edge keys in, prefix stitch back). A regression that
    // reintroduces the second full-data shuffle shows up as a fifth
    // shuffle exchange; one that degrades the stitch to SMJ shows there.
    val df = graft.api.Frame(table("orders"))
      .groupby("o_custkey")
      .cumsumSkewSafe("o_totalprice", "cs",
        Seq(graft.api.SortKey.asc("o_orderdate"), graft.api.SortKey.asc("o_orderkey"))).df
    val (shuffles, bc, smj, cart) = planCounts(df)
    assert(shuffles <= 4, s"groupedRunning shuffle count grew: $shuffles > 4")
    assert(bc == 2 && smj == 0 && cart == 0,
      s"groupedRunning stitch shape drifted: bc=$bc smj=$smj cart=$cart")
  }

  test("q180's order contract: range partitioning + doc_id ordering survive the narrow map") {
    // q180 deliberately has NO trailing orderBy: its deterministic output
    // depends on RangePartitioning(doc_id) + in-partition sort surviving
    // the repetition-stats projection and the sink concatenating
    // partitions in index order. That is observed Spark behavior, not a
    // spec contract — pin it here so an AQE/Spark upgrade that stops
    // propagating the ordering fails THIS test loudly instead of
    // silently flipping the order-sensitive compare.
    import org.apache.spark.sql.catalyst.expressions.Ascending
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val df = graft.ops.Corpus.repetitionStats(
      queries.QueryKit.tSplitSorted(spark, sfDir, "documents", "doc_id"), "doc_id", "text")
    // the AQE wrapper reports no ordering/partitioning of its own —
    // assert on the current physical plan beneath it
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val ord = plan.outputOrdering
    assert(ord.nonEmpty && ord.head.direction == Ascending &&
        ord.head.child.references.exists(_.name == "doc_id"),
      s"doc_id ascending must survive to the sink; outputOrdering=$ord")
    plan.outputPartitioning match {
      case r: RangePartitioning =>
        assert(r.ordering.head.child.references.exists(_.name == "doc_id"),
          s"RangePartitioning key drifted off doc_id: ${r.ordering}")
      case p => fail(s"expected RangePartitioning(doc_id) to survive the narrow map; got $p")
    }
  }
}
