package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.util.Random

import graft.api.{Frame, SortKey}

/**
 * Differential random-pipeline fuzzer — the analog of the reference's
 * fuzzydata harness (modin/experimental/fuzzydata/__init__.py:14,
 * modin/tests/experimental/test_fuzzydata.py, which replays random
 * workflows against pandas). A seeded generator draws 5–8 ops from the
 * Frame surface (filter / derive / na / clip / groupby-agg / sort+head /
 * drop_duplicates / grouped cumsum / rename / concat / join) and
 * maintains, alongside the Frame chain, an INDEPENDENTLY TEXT-BUILT SQL
 * replay of the same semantics run through spark.sql. Round 9 widened the
 * pool twice: first into windows/reshape/resample — grouped rolling
 * (count window + min_periods gate), global expanding (the
 * two-phase-prefix path vs a single-partition SQL window), melt/unpivot
 * (null-RETAINING, pandas semantics — probed against Spark's Unpivot
 * node), a date_trunc downsample over o_orderdate — and then into the
 * remaining op families: the pandas expression dialect (queryPandas /
 * evalPandas through the PandasExpr translator vs hand-spelled SQL,
 * covering and/or/not, in-lists, ** → POWER, // → FLOOR), string derives
 * that mint new group-key domains mid-pipeline, and the global backward
 * asof join (Joins.asofGlobal's union+prefix shape vs a left-join +
 * row_number replay). Round 10 closed the last unfuzzed families —
 * strings and dates: containment filters (contains/startswith/endswith
 * via instr twins, no LIKE-wildcard asymmetry), slice/case and regex
 * extract derives whose Scala-computed domains keep feeding downstream
 * IN-filters and groupbys, date-part derives that mint integer group
 * keys (year/month/quarter/dayofweek), and month-subset / datediff-
 * horizon date filters. Round 12 closed the last unfuzzed family —
 * joins: a second equi-merge (lineitem→orders, so both bases can join)
 * and keyed merge_asof through Joins.asofByKeys (backward/forward,
 * optional tolerance, per-group shifted ladders so a cross-group match
 * is a visible wrong value), plus 120 fixed join-forced seeds
 * (2000–2119) that guarantee the family composes with everything else;
 * and then the offset/rank windows — grouped shift/diff/pct_change
 * (exact single-op replays; ±Inf from zero bases compares by ==),
 * grouped rank across min/dense/max/average with asc/desc and pct
 * (dense+pct exercising the count_distinct join-back; method='first'
 * excluded as tie-underdetermined), and cummax/cummin/cumcount, with 90
 * window-forced seeds (3000–3089). Round 13 closes the reshape/resample
 * family — pivot_table (groupBy.pivot single-aggregate plan vs the
 * conditional-aggregation twin), stack (the Generate node vs melt's
 * native Unpivot), cut binning across all three pandas edge conventions
 * (labels interpolated from the same Scala doubles on both sides, so
 * text parity is by construction; the label column joins the draw-able
 * group-key domains), and the closed/label resample grid (boundary
 * points shifting bins via the ts−1µs truncation) — with 120
 * reshape-forced seeds (4000–4119).
 *
 * The Frame chain exercises the API wrapper layer (ordering propagation
 * into head(), window specs, keep=first/last/none reversal, na masks);
 * the SQL string goes through the parser with hand-spelled semantics
 * (explicit NULLS LAST, explicit CASE for clip/cumsum null rules). A
 * divergence is a composition bug — the defect class the per-operator
 * oracles can't see because they never chain 5+ ops.
 *
 * Everything is deterministic: seeds are fixed, ops draw from
 * scala.util.Random(seed), the comparison is order-insensitive
 * (assertParity), and any op needing an internal order (head, dedup
 * keep-first, cumsum) orders by a maintained unique key so both sides
 * agree bit-for-bit.
 */
class FuzzSpec extends SparkSuite {

  // Fixed-seed batches run per family. The full set (6 random + 4 join +
  // 3 window + 4 reshape batches of 30 seeds = 510 pipelines) takes ~10
  // minutes of real Spark jobs — most of the whole suite's budget — and
  // the r15 driver run showed the external test budget is finite (its
  // `sbt test` was cut off mid-suite with zero failures). Same treatment
  // as PandasExprFuzzSpec's SPARK_GRAFT_FUZZ_SEEDS: default to a
  // deterministic PREFIX of each family (2 batches = 60 seeds each,
  // random 0..59, join 2000..2059, window 3000..3059, reshape
  // 4000..4059) and make the full sweep opt-in:
  // SPARK_GRAFT_FUZZ_BATCHES=6 sbt "testOnly graft.FuzzSpec". Every seed
  // is fixed and deterministic, so the prefix is a stable regression set,
  // not a random sample; the promoted regression seeds below always run.
  private val ciBatches: Int = SparkSuite.positiveIntEnv("SPARK_GRAFT_FUZZ_BATCHES", 2)

  /** kind: 'i' long, 'n' double, 's' string. dom = known value domain
    * for strings (drives IN-filters); lowCard marks group-key
    * candidates. */
  private case class FCol(name: String, kind: Char, dom: Seq[String] = Nil,
      lowCard: Boolean = false)

  /** fr and sql must stay semantically identical; uniq = columns whose
    * combination is unique per row ('' when a concat broke uniqueness —
    * order-dependent ops are gated on it). */
  private case class St(fr: Frame, sql: String, cols: Vector[FCol],
      uniq: Vector[String], ops: List[String], joined: Boolean = false) {
    def addOp(tag: String): St = copy(ops = tag :: ops)
  }

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private def wrap(sql: String): String = s"(\n$sql\n) "

  private def sortText(name: String, asc: Boolean, nullsFirst: Boolean): String =
    s"$name ${if (asc) "ASC" else "DESC"} ${if (nullsFirst) "NULLS FIRST" else "NULLS LAST"}"

  /** SortKey defaults are asc/desc + NULLS LAST (pandas na_position);
    * plain SQL ORDER BY would put nulls first on ASC — always spell it. */
  private def uniqOrderText(uniq: Seq[String]): String =
    uniq.map(sortText(_, asc = true, nullsFirst = false)).mkString(", ")

  private def selectList(cols: Seq[FCol]): String = cols.map(_.name).mkString(", ")

  // ---- base tables (cached once; domains measured, not assumed) ----

  private lazy val strDoms: Map[String, Seq[String]] = {
    def dom(view: String, c: String): Seq[String] =
      spark.table(view).select(c).distinct().collect().map(_.getString(0)).sorted.toSeq
    // the fixture's (l_orderkey, l_linenumber) is NOT unique — synthesize
    // a uid by row_number over ALL columns (ties only among fully
    // identical rows, which are interchangeable under the multiset
    // compare) so order-dependent ops have a total order to anchor on.
    // Both sides read this same view, so the uid is shared, not compared.
    val liCols = Seq("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus")
    table("lineitem").select(liCols.head, liCols.tail: _*)
      .withColumn("uid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(liCols.map(col): _*)))
      .cache().createOrReplaceTempView("fz_lineitem")
    table("orders").select("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderstatus", "o_orderpriority", "o_orderdate")
      .cache().createOrReplaceTempView("fz_orders")
    table("customer").select("c_custkey", "c_mktsegment", "c_acctbal")
      .cache().createOrReplaceTempView("fz_customer")
    Map(
      "l_returnflag" -> dom("fz_lineitem", "l_returnflag"),
      "l_linestatus" -> dom("fz_lineitem", "l_linestatus"),
      "o_orderstatus" -> dom("fz_orders", "o_orderstatus"),
      "o_orderpriority" -> dom("fz_orders", "o_orderpriority"),
      "c_mktsegment" -> dom("fz_customer", "c_mktsegment"))
  }

  private def baseState(r: Random): St =
    if (r.nextInt(10) < 6) {
      val cols = Vector(
        FCol("l_orderkey", 'i'), FCol("l_linenumber", 'i', lowCard = true),
        FCol("l_quantity", 'n'), FCol("l_extendedprice", 'n'), FCol("l_discount", 'n'),
        FCol("l_returnflag", 's', strDoms("l_returnflag"), lowCard = true),
        FCol("l_linestatus", 's', strDoms("l_linestatus"), lowCard = true),
        FCol("uid", 'i'))
      St(Frame(spark.table("fz_lineitem")), "SELECT * FROM fz_lineitem",
        cols, Vector("uid"), List("base:lineitem"))
    } else {
      val cols = Vector(
        FCol("o_orderkey", 'i'), FCol("o_custkey", 'i'), FCol("o_totalprice", 'n'),
        FCol("o_orderstatus", 's', strDoms("o_orderstatus"), lowCard = true),
        FCol("o_orderpriority", 's', strDoms("o_orderpriority"), lowCard = true),
        FCol("o_orderdate", 'd'))
      St(Frame(spark.table("fz_orders")), "SELECT * FROM fz_orders",
        cols, Vector("o_orderkey"), List("base:orders"))
    }

  // ---- op pool: (tag, guard, apply) ----

  private def numeric(st: St) = st.cols.filter(c => c.kind == 'i' || c.kind == 'n')
  // ops.size grows by one per applied op (and rename REPLACES a column,
  // so cols.size would repeat and collide) — a per-step counter is the
  // only collision-free fresh-name source
  private def fresh(st: St, p: String) = s"$p${st.ops.size}"

  private def opFilterNum(st: St, r: Random): St = {
    val c = pick(r, numeric(st))
    if (c.kind == 'i' && r.nextBoolean()) {
      val m = pick(r, Seq(2, 3, 5, 7)); val v = r.nextInt(m)
      st.copy(
        fr = st.fr.filter(pmod(col(c.name), lit(m.toLong)) === v),
        sql = s"SELECT * FROM ${wrap(st.sql)}WHERE pmod(${c.name}, $m) = $v")
        .addOp(s"filter(${c.name}%$m=$v)")
    } else {
      val t = if (c.kind == 'i') pick(r, Seq(3L, 10L, 1000L, 100000L)).toDouble
              else pick(r, Seq(0.03, 0.5, 3.0, 30.0, 900.0, 20000.0))
      val gt = r.nextBoolean()
      val opS = if (gt) ">" else "<="
      st.copy(
        fr = st.fr.filter(if (gt) col(c.name) > t else col(c.name) <= t),
        sql = s"SELECT * FROM ${wrap(st.sql)}WHERE ${c.name} $opS $t")
        .addOp(s"filter(${c.name}$opS$t)")
    }
  }

  private def opFilterStr(st: St, r: Random): St = {
    val cands = st.cols.filter(c => c.kind == 's' && c.dom.size >= 2)
    val c = pick(r, cands)
    val nKeep = 1 + r.nextInt(c.dom.size - 1)
    val keep = r.shuffle(c.dom).take(nKeep).sorted
    val inList = keep.map(v => s"'$v'").mkString(", ")
    st.copy(
      fr = st.fr.filter(col(c.name).isin(keep: _*)),
      sql = s"SELECT * FROM ${wrap(st.sql)}WHERE ${c.name} IN ($inList)")
      .addOp(s"filterIn(${c.name})")
  }

  private def opDerive(st: St, r: Random): St = {
    val a = pick(r, numeric(st)); val b = pick(r, numeric(st))
    val name = fresh(st, "d")
    val kind = if (a.kind == 'n' || b.kind == 'n') 'n' else 'i'
    val (c: Column, sqlExpr: String, tag: String) = r.nextInt(4) match {
      case 0 => (col(a.name) + col(b.name), s"${a.name} + ${b.name}", "+")
      case 1 => (col(a.name) - col(b.name), s"${a.name} - ${b.name}", "-")
      case 2 => (abs(col(a.name) - col(b.name)), s"abs(${a.name} - ${b.name})", "absdiff")
      case _ => (when(col(a.name) >= col(b.name), col(a.name)).otherwise(col(b.name)),
        s"CASE WHEN ${a.name} >= ${b.name} THEN ${a.name} ELSE ${b.name} END", "max2")
    }
    st.copy(
      fr = st.fr.withColumn(name, c),
      sql = s"SELECT *, $sqlExpr AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, kind))
      .addOp(s"derive($name=$tag(${a.name},${b.name}))")
  }

  private def opDeriveNullable(st: St, r: Random): St = {
    val a = pick(r, numeric(st))
    val t = if (a.kind == 'i') pick(r, Seq(5L, 50L, 5000L)).toDouble
            else pick(r, Seq(1.0, 25.0, 4000.0))
    val name = fresh(st, "m")
    st.copy(
      fr = st.fr.withColumn(name, when(col(a.name) > t, col(a.name))),
      sql = s"SELECT *, CASE WHEN ${a.name} > $t THEN ${a.name} END AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, a.kind))
      .addOp(s"deriveNull($name from ${a.name}>$t)")
  }

  private def opFillna(st: St, r: Random): St = {
    val c = pick(r, st.cols.filter(_.kind == 'n'))
    val items = st.cols.map(f =>
      if (f.name == c.name) s"coalesce(${f.name}, CAST(0.0 AS DOUBLE)) AS ${f.name}"
      else f.name)
    st.copy(
      fr = st.fr.fillna(0.0, Seq(c.name)),
      sql = s"SELECT ${items.mkString(", ")} FROM ${wrap(st.sql)}")
      .addOp(s"fillna(${c.name})")
  }

  private def opDropna(st: St, r: Random): St = {
    val n = 1 + r.nextInt(2)
    val picked = r.shuffle(st.cols).take(n)
    val subset = picked.map(_.name)
    // Spark's na.drop (= pandas dropna) treats NaN as MISSING on
    // double columns — the twin must too. Fixture columns never hold
    // NaN, but IEEE-derived columns upstream (pct_change 0/0, x/0)
    // do: seed 70407 fed a NaN pct_change into dropna and the
    // IS-NOT-NULL-only twin kept 3 rows the engine (correctly,
    // pandas-semantically) dropped.
    st.copy(
      fr = st.fr.dropna(how = "any", subset = subset),
      sql = s"SELECT * FROM ${wrap(st.sql)}WHERE " +
        picked.map(c =>
          if (c.kind == 'n') s"(${c.name} IS NOT NULL AND NOT isnan(${c.name}))"
          else s"${c.name} IS NOT NULL").mkString(" AND "))
      .addOp(s"dropna(${subset.mkString("+")})")
  }

  private def opClip(st: St, r: Random): St = {
    val c = pick(r, st.cols.filter(_.kind == 'n'))
    val lo = pick(r, Seq(0.0, 1.0, 10.0)); val hi = lo + pick(r, Seq(5.0, 100.0, 10000.0))
    // clip keeps null/NaN missing — spell the rule as independent CASE arms
    st.copy(
      fr = st.fr.clip(c.name, lo, hi),
      sql = s"SELECT ${st.cols.map(f => if (f.name != c.name) f.name else
        s"CASE WHEN ${f.name} IS NULL OR isnan(${f.name}) THEN CAST(NULL AS DOUBLE) " +
        s"WHEN ${f.name} < $lo THEN $lo WHEN ${f.name} > $hi THEN $hi " +
        s"ELSE ${f.name} END AS ${f.name}").mkString(", ")} FROM ${wrap(st.sql)}",
      // clipping is NON-injective: if the clipped column is part of the
      // uniqueness key, rows collapsing onto a bound make downstream
      // order-dependent picks (dedup-first etc.) tie nondeterministically
      // across engines — gate them off like the concat op does.
      // (Found by the extended fuzz sweep: seed 1409.)
      uniq = if (st.uniq.contains(c.name)) Vector.empty else st.uniq)
      .addOp(s"clip(${c.name},$lo,$hi)")
  }

  private def opGroupAgg(st: St, r: Random): St = {
    val keyCands = st.cols.filter(_.lowCard)
    val nk = 1 + r.nextInt(math.min(2, keyCands.size))
    val keys = r.shuffle(keyCands).take(nk)
    val nums = numeric(st).filterNot(c => keys.exists(_.name == c.name))
    val aggCands: Seq[(String, Column, String, Char)] =
      ("cnt", count(lit(1)), "COUNT(*)", 'i') +: nums.flatMap { c =>
        Seq(
          (s"sum_${c.name}", sum(col(c.name)), s"SUM(${c.name})", c.kind),
          (s"min_${c.name}", min(col(c.name)), s"MIN(${c.name})", c.kind),
          (s"max_${c.name}", max(col(c.name)), s"MAX(${c.name})", c.kind),
          (s"avg_${c.name}", avg(col(c.name)), s"AVG(${c.name})", 'n'),
          (s"nuq_${c.name}", count_distinct(col(c.name)), s"COUNT(DISTINCT ${c.name})", 'i'))
      }
    val na = 1 + r.nextInt(math.min(3, aggCands.size))
    val aggs = r.shuffle(aggCands).take(na)
    val keyNames = keys.map(_.name)
    st.copy(
      fr = st.fr.groupby(keyNames: _*).agg(aggs.map(a => a._1 -> a._2): _*),
      sql = s"SELECT ${keyNames.mkString(", ")}, " +
        aggs.map(a => s"${a._3} AS ${a._1}").mkString(", ") +
        s" FROM ${wrap(st.sql)}GROUP BY ${keyNames.mkString(", ")}",
      cols = keys ++ aggs.map(a => FCol(a._1, a._4)).toVector,
      uniq = keyNames.toVector)
      .addOp(s"groupAgg(${keyNames.mkString("+")};${aggs.map(_._1).mkString(",")})")
  }

  private def opSortHead(st: St, r: Random): St = {
    val sc = pick(r, st.cols)
    val asc = r.nextBoolean()
    val n = pick(r, Seq(7, 25, 97))
    val keys = SortKey(col(sc.name), asc) +: st.uniq.filterNot(_ == sc.name).map(SortKey.asc)
    val orderSql = (sortText(sc.name, asc, nullsFirst = false) +:
      st.uniq.filterNot(_ == sc.name).map(sortText(_, asc = true, nullsFirst = false)))
      .mkString(", ")
    st.copy(
      fr = st.fr.sortValues(keys).head(n),
      sql = s"SELECT * FROM ${wrap(st.sql)}ORDER BY $orderSql LIMIT $n")
      .addOp(s"sortHead(${sc.name}${if (asc) "↑" else "↓"},$n)")
  }

  private def opDedup(st: St, r: Random): St = {
    val n = 1 + r.nextInt(2)
    val subset = r.shuffle(st.cols).take(n).map(_.name)
    val keep = pick(r, Seq("first", "last", "none"))
    val firstBy = st.uniq.map(SortKey.asc)
    val part = subset.mkString(", ")
    val sql = keep match {
      case "none" =>
        s"SELECT ${selectList(st.cols)} FROM (SELECT *, COUNT(*) OVER " +
          s"(PARTITION BY $part) AS __n FROM ${wrap(st.sql)}) WHERE __n = 1"
      case k =>
        // keep=last is keep=first under the reversed order: SortKey.reversed
        // flips direction AND null placement (nulls-last -> nulls-first)
        val ord = if (k == "first") uniqOrderText(st.uniq)
          else st.uniq.map(sortText(_, asc = false, nullsFirst = true)).mkString(", ")
        s"SELECT ${selectList(st.cols)} FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY $part ORDER BY $ord) AS __rn FROM ${wrap(st.sql)}) WHERE __rn = 1"
    }
    st.copy(
      fr = st.fr.dropDuplicates(subset, firstBy, keep),
      sql = sql,
      uniq = subset.toVector)
      .addOp(s"dedup(${subset.mkString("+")},$keep)")
  }

  private def opGbCumsum(st: St, r: Random): St = {
    val k = pick(r, st.cols.filter(_.lowCard))
    val c = pick(r, numeric(st).filterNot(_.name == k.name))
    val name = fresh(st, "cs")
    val ord = uniqOrderText(st.uniq)
    st.copy(
      fr = st.fr.groupby(k.name).cumsum(c.name, name, st.uniq.map(SortKey.asc)),
      sql = s"SELECT *, CASE WHEN ${c.name} IS NOT NULL THEN SUM(${c.name}) OVER " +
        s"(PARTITION BY ${k.name} ORDER BY $ord ROWS BETWEEN UNBOUNDED PRECEDING " +
        s"AND CURRENT ROW) END AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, if (c.kind == 'i') 'i' else 'n'))
      .addOp(s"gbCumsum(${k.name};${c.name})")
  }

  private def opRename(st: St, r: Random): St = {
    val c = pick(r, st.cols)
    val name = fresh(st, "r")
    st.copy(
      fr = st.fr.rename((c.name, name)),
      sql = s"SELECT ${st.cols.map(f => if (f.name == c.name) s"${f.name} AS $name"
        else f.name).mkString(", ")} FROM ${wrap(st.sql)}",
      cols = st.cols.map(f => if (f.name == c.name) f.copy(name = name) else f),
      uniq = st.uniq.map(u => if (u == c.name) name else u))
      .addOp(s"rename(${c.name}→$name)")
  }

  private def opConcat(st: St, r: Random): St = {
    val c = pick(r, numeric(st))
    val m = pick(r, Seq(2, 3, 5)); val v = r.nextInt(m)
    st.copy(
      fr = st.fr.concat(st.fr.filter(pmod(col(c.name), lit(m.toLong)) === v)),
      sql = s"SELECT * FROM ${wrap(st.sql)}UNION ALL SELECT * FROM ${wrap(st.sql)}" +
        s"WHERE pmod(${c.name}, $m) = $v",
      uniq = Vector.empty) // duplicated keys: order-dependent ops gate off
      .addOp(s"concat(self%$m=$v)")
  }

  private def opJoinCustomer(st: St, r: Random): St = {
    val how = pick(r, Seq("inner", "left"))
    val cust = Frame(spark.table("fz_customer"))
    st.copy(
      fr = st.fr.mergeOn(cust, Seq("o_custkey"), Seq("c_custkey"), how).drop("c_custkey"),
      sql = s"SELECT l.${st.cols.map(_.name).mkString(", l.")}, r.c_mktsegment, r.c_acctbal " +
        s"FROM ${wrap(st.sql)}l ${if (how == "inner") "JOIN" else "LEFT JOIN"} " +
        s"fz_customer r ON l.o_custkey = r.c_custkey",
      cols = st.cols :+ FCol("c_mktsegment", 's', strDoms("c_mktsegment"), lowCard = true)
        :+ FCol("c_acctbal", 'n'),
      joined = true)
      .addOp(s"join(customer,$how)")
  }

  private def winText(part: Option[String], ord: String, frame: String): String =
    s"${part.map(p => s"PARTITION BY $p ").getOrElse("")}ORDER BY $ord $frame"

  /** groupby(k).rolling(w, min_periods=mp).{sum|mean|min|max} — the
    * plain bounded window path; the SQL twin spells the pandas
    * valid-count min_periods gate as an explicit CASE. */
  private def opGbRolling(st: St, r: Random): St = {
    val k = pick(r, st.cols.filter(_.lowCard))
    val c = pick(r, numeric(st).filterNot(_.name == k.name))
    val w = pick(r, Seq(2, 4, 9))
    val mp = 1 + r.nextInt(w)
    val name = fresh(st, "rw")
    val (fn, sqlAgg, kind) = pick(r, Seq[(String, String, Char)](
      ("sum", s"SUM(${c.name})", c.kind), ("mean", s"AVG(${c.name})", 'n'),
      ("min", s"MIN(${c.name})", c.kind), ("max", s"MAX(${c.name})", c.kind)))
    val roll = st.fr.groupby(k.name).rolling(w, st.uniq.map(SortKey.asc), Some(mp))
    val fr2 = fn match {
      case "sum" => roll.sum(c.name, name)
      case "mean" => roll.mean(c.name, name)
      case "min" => roll.min(c.name, name)
      case _ => roll.max(c.name, name)
    }
    val win = winText(Some(k.name), uniqOrderText(st.uniq),
      s"ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW")
    st.copy(
      fr = fr2,
      sql = s"SELECT *, CASE WHEN count(${c.name}) OVER ($win) >= $mp " +
        s"THEN $sqlAgg OVER ($win) END AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, kind))
      .addOp(s"gbRolling(${k.name};$fn(${c.name}),w=$w,mp=$mp)")
  }

  /** groupby(k).{shift|diff|pct_change} — offset windows over the uniq
    * order. All three are EXACT replays: shift moves a value verbatim,
    * diff/pct_change compute one subtraction/division from identical
    * operands on both sides (no association-order hazard). pct_change
    * with a zero base emits ±Infinity on both sides — assertParity
    * short-circuits on == before the tolerance test for that. */
  private def opGbOffset(st: St, r: Random): St = {
    val k = pick(r, st.cols.filter(_.lowCard))
    val c = pick(r, numeric(st).filterNot(_.name == k.name))
    val ord = uniqOrderText(st.uniq)
    val win = s"PARTITION BY ${k.name} ORDER BY $ord"
    def lagSql(p: Int) =
      if (p >= 0) s"LAG(${c.name}, $p) OVER ($win)"
      else s"LEAD(${c.name}, ${-p}) OVER ($win)"
    val order = st.uniq.map(SortKey.asc)
    r.nextInt(3) match {
      case 0 =>
        val p = pick(r, Seq(1, 2, -1))
        val name = fresh(st, "sh")
        st.copy(
          fr = st.fr.groupby(k.name).shift(c.name, name, p, order),
          sql = s"SELECT *, ${lagSql(p)} AS $name FROM ${wrap(st.sql)}",
          cols = st.cols :+ FCol(name, c.kind))
          .addOp(s"gbShift(${k.name};${c.name},p=$p)")
      case 1 =>
        val name = fresh(st, "df")
        st.copy(
          fr = st.fr.groupby(k.name).diff(c.name, name, order),
          sql = s"SELECT *, ${c.name} - ${lagSql(1)} AS $name FROM ${wrap(st.sql)}",
          cols = st.cols :+ FCol(name, c.kind))
          .addOp(s"gbDiff(${k.name};${c.name})")
      case _ =>
        val p = pick(r, Seq(1, -1))
        val name = fresh(st, "pc")
        // the twin spells the engine's pandas/IEEE zero-base contract by
        // hand (Frame.ieeeDiv): ±Inf signed by the diff and the zero's
        // string-probed sign, 0/0 → NaN, nulls propagate — a bare SQL
        // division would THROW under ANSI on a zero base
        val b = lagSql(p)
        val aD = s"CAST(${c.name} - $b AS DOUBLE)"
        val bD = s"CAST($b AS DOUBLE)"
        st.copy(
          fr = st.fr.groupby(k.name).pctChange(c.name, name, order, p),
          sql = s"SELECT *, CASE WHEN ($aD) IS NULL THEN CAST(NULL AS DOUBLE) " +
            s"WHEN $bD != 0.0D THEN $aD / $bD " +
            s"ELSE (CASE WHEN startswith(CAST($bD AS STRING), '-') " +
            s"THEN -($aD) ELSE $aD END) * CAST('Infinity' AS DOUBLE) END " +
            s"AS $name FROM ${wrap(st.sql)}",
          cols = st.cols :+ FCol(name, 'n'))
          .addOp(s"gbPctChange(${k.name};${c.name},p=$p)")
    }
  }

  /** groupby(k).rank(c, method, ascending, pct) — min/dense/max/average
    * (method='first' is excluded: its row_number tie-break has no
    * deterministic definition without a secondary order, so Frame and
    * replay could legitimately disagree). The twin spells the engine's
    * pandas na_option='keep' contract by hand: null AND NaN rows rank as
    * null, sort past every valid row, and stay out of the pct
    * denominator. dense+pct exercises the count_distinct join-back path
    * (GroupBy.rank's nd aggregate); its twin uses SIZE(COLLECT_SET(..))
    * OVER because Spark SQL windows reject DISTINCT aggregates — fine at
    * fuzz scale, and collect_set drops nulls exactly like count_distinct. */
  private def opGbRank(st: St, r: Random): St = {
    val k = pick(r, st.cols.filter(_.lowCard))
    val c = pick(r, numeric(st).filterNot(_.name == k.name))
    val asc = r.nextBoolean()
    val (method, pct) = pick(r, Seq(
      ("min", false), ("dense", false), ("max", false), ("average", false),
      ("min", true), ("dense", true)))
    val name = fresh(st, "rk")
    val validSql =
      if (c.kind == 'n') s"(${c.name} IS NOT NULL AND NOT isnan(${c.name}))"
      else s"${c.name} IS NOT NULL"
    val cv = s"CASE WHEN $validSql THEN ${c.name} END"
    val dir = if (asc) "ASC" else "DESC"
    val spec = s"PARTITION BY ${k.name} ORDER BY $cv $dir NULLS LAST"
    val tiesSql = s"COUNT(1) OVER (PARTITION BY ${k.name}, $cv)"
    val coreSql = method match {
      case "min"     => s"RANK() OVER ($spec)"
      case "dense"   => s"DENSE_RANK() OVER ($spec)"
      case "max"     => s"RANK() OVER ($spec) + $tiesSql - 1"
      case _         => s"CAST(RANK() OVER ($spec) AS DOUBLE) + " +
        s"CAST($tiesSql - 1 AS DOUBLE) / 2.0D"
    }
    val (rankedSql, kind) =
      if (pct && method == "dense")
        (s"CAST($coreSql AS DOUBLE) / SIZE(COLLECT_SET($cv) " +
          s"OVER (PARTITION BY ${k.name}))", 'n')
      else if (pct)
        (s"CAST($coreSql AS DOUBLE) / COUNT($cv) OVER (PARTITION BY ${k.name})", 'n')
      else if (method == "average") (coreSql, 'n')
      else (s"CAST($coreSql AS BIGINT)", 'i')
    val fr0 = st.fr.groupby(k.name).rank(c.name, name, method, asc, pct)
    // min/dense return int, max long (rank + tie count): unify to long so
    // downstream ops (melt type-pairing, concat) see one integer kind
    val fr2 = if (kind == 'i') fr0.withColumn(name, col(name).cast("long")) else fr0
    st.copy(
      fr = fr2,
      sql = s"SELECT *, CASE WHEN $validSql THEN $rankedSql END AS $name " +
        s"FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, kind))
      .addOp(s"gbRank(${k.name};${c.name},$method,asc=$asc,pct=$pct)")
  }

  /** groupby(k).{cummax|cummin|cumcount} over the uniq order — the
    * running-extremum/counter complements of the long-fuzzed cumsum.
    * Exact (no FP accumulation): extrema move values verbatim, cumcount
    * is row_number-1. The twins spell ROWS explicitly (the uniq order is
    * total so RANGE≡ROWS, but the contract should not rely on that). */
  private def opGbCumExtra(st: St, r: Random): St = {
    val k = pick(r, st.cols.filter(_.lowCard))
    val ord = uniqOrderText(st.uniq)
    val win = s"PARTITION BY ${k.name} ORDER BY $ord " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val order = st.uniq.map(SortKey.asc)
    r.nextInt(3) match {
      case 0 =>
        val c = pick(r, numeric(st).filterNot(_.name == k.name))
        val name = fresh(st, "cx")
        st.copy(
          fr = st.fr.groupby(k.name).cummax(c.name, name, order),
          sql = s"SELECT *, CASE WHEN ${c.name} IS NOT NULL THEN " +
            s"MAX(${c.name}) OVER ($win) END AS $name FROM ${wrap(st.sql)}",
          cols = st.cols :+ FCol(name, c.kind))
          .addOp(s"gbCummax(${k.name};${c.name})")
      case 1 =>
        val c = pick(r, numeric(st).filterNot(_.name == k.name))
        val name = fresh(st, "cn")
        st.copy(
          fr = st.fr.groupby(k.name).cummin(c.name, name, order),
          sql = s"SELECT *, CASE WHEN ${c.name} IS NOT NULL THEN " +
            s"MIN(${c.name}) OVER ($win) END AS $name FROM ${wrap(st.sql)}",
          cols = st.cols :+ FCol(name, c.kind))
          .addOp(s"gbCummin(${k.name};${c.name})")
      case _ =>
        val name = fresh(st, "cc")
        st.copy(
          fr = st.fr.groupby(k.name).cumcount(name, order),
          sql = s"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY ${k.name} " +
            s"ORDER BY $ord) - 1 AS BIGINT) AS $name FROM ${wrap(st.sql)}",
          cols = st.cols :+ FCol(name, 'i'))
          .addOp(s"gbCumcount(${k.name})")
    }
  }

  /** Global expanding over the declared order — the engine runs the
    * scalable two-phase prefix (Cumulative.globalRunning), the replay a
    * single-partition SQL window; divergence means the distributed
    * prefix stitch drifted from the sequential definition. */
  private def opExpanding(st: St, r: Random): St = {
    val c = pick(r, numeric(st))
    val mp = 1 + r.nextInt(3)
    val name = fresh(st, "ex")
    // Quantize the input to small integers (pmod(round(c), 1000)) so the
    // running sums are EXACT in floating point — integer-valued doubles
    // bounded by 1000 sum associatively far below 2^53, so the engine's
    // two-phase prefix and the sequential SQL window agree bit-for-bit
    // and no output rounding is needed. (Output rounding was tried and
    // is not sound: a true value within an ulp of a .5 boundary rounds
    // differently per association order — seed 29 hit exactly that.)
    val Q = "__exq"
    // the modulus is DOUBLE on BOTH sides so the quantized column is
    // DOUBLE on both: with an integer column and an integer literal the
    // SQL twin's pmod/SUM/downstream derives stay BIGINT while the Frame
    // side runs DOUBLE — same values, but the multiset compare's
    // string-sorted row order diverges ("2" vs "2.0") and the positional
    // cell compare then pairs unrelated rows (seed 10459). The twin needs
    // the D suffix: a bare SQL `1000.0` literal is DECIMAL(5,1) (standard
    // SQL exact-numeric), which would poison the whole downstream chain
    // into decimal, while the DSL's lit(1000.0) is DoubleType.
    val qCol = pmod(round(col(c.name), 0), lit(1000.0))
    val qSql = s"pmod(round(${c.name}, 0), 1000.0D)"
    val exp = st.fr.withColumn(Q, qCol).sortValues(st.uniq.map(SortKey.asc)).expanding(mp)
    val (fr2, valueSql, kind) = r.nextInt(3) match {
      case 0 => (exp.sum(Q, name), s"SUM($qSql)", 'n')
      case 1 => (exp.count(Q, name), s"COUNT($qSql)", 'i')
      // mean = exact running sum / running valid count: identical
      // operands on both sides, so the division is bit-identical too
      case _ => (exp.mean(Q, name),
        s"SUM($qSql) OVER (%WIN%) / COUNT($qSql)", 'n')
    }
    val win = winText(None, uniqOrderText(st.uniq),
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
    val core = valueSql.replace("%WIN%", win)
    st.copy(
      fr = fr2.drop(Q),
      sql = s"SELECT ${selectList(st.cols)}, $name FROM (SELECT *, " +
        s"CASE WHEN count($qSql) OVER ($win) >= $mp " +
        s"THEN $core OVER ($win) END AS $name FROM ${wrap(st.sql)})",
      cols = st.cols :+ FCol(name, kind))
      .addOp(s"expanding($name=${c.name},mp=$mp)")
  }

  /** melt/unpivot of two same-kind value columns over the uniq ids.
    * Spark's Unpivot RETAINS null values (pandas melt semantics — probed
    * empirically), so the twin is a plain two-arm UNION ALL. */
  private def opMelt(st: St, r: Random): St = {
    val uniqSet = st.uniq.toSet
    val cands = numeric(st).filterNot(c => uniqSet(c.name))
    val byKind = cands.groupBy(_.kind).filter(_._2.size >= 2)
    val pool = byKind(pick(r, byKind.keys.toSeq))
    val vals = r.shuffle(pool).take(2).map(_.name)
    val varName = fresh(st, "var")
    val valName = s"${varName}v"
    val idCols = st.cols.filter(c => uniqSet(c.name))
    val ids = idCols.map(_.name)
    val fr2 = Frame(graft.ops.Reshape.melt(st.fr.df, ids, vals, varName, valName))
    val arms = vals.map(v =>
      s"SELECT ${ids.mkString(", ")}, '$v' AS $varName, $v AS $valName FROM ${wrap(st.sql)}")
    st.copy(
      fr = fr2,
      sql = arms.mkString("\nUNION ALL\n"),
      cols = idCols :+ FCol(varName, 's', vals.sorted, lowCard = true)
        :+ FCol(valName, pool.head.kind),
      uniq = st.uniq :+ varName)
      .addOp(s"melt(${vals.mkString("+")})")
  }

  /** resample-downsample: date_trunc bucket groupBy over o_orderdate —
    * the one-exchange tumbling aggregate (engine Resample.downsample).
    * Round 13 widens it across the pandas closed/label grid
    * (Resample.downsampleWith): closed='right' truncates ts−1µs so a
    * boundary point shifts into the EARLIER bin, label='right' stamps
    * the upper edge (+1 unit; quarter steps 3 months because QUARTER is
    * not a Spark interval unit) — the twin spells the identical
    * expression arithmetic. */
  private def opResample(st: St, r: Random): St = {
    val d = pick(r, st.cols.filter(_.kind == 'd'))
    val unit = pick(r, Seq("week", "month", "quarter"))
    val closed = pick(r, Seq("left", "right"))
    val label = pick(r, Seq("left", "right"))
    val edgeSql =
      if (closed == "left") s"date_trunc('$unit', ${d.name})"
      else s"date_trunc('$unit', ${d.name} - INTERVAL 1 MICROSECOND)"
    val bucketSql =
      if (label == "left") edgeSql
      else if (unit == "quarter") s"$edgeSql + INTERVAL 3 MONTH"
      else s"$edgeSql + INTERVAL 1 $unit"
    val nums = numeric(st)
    val aggCands: Seq[(String, Column, String, Char)] =
      ("cnt", count(lit(1)), "COUNT(*)", 'i') +: nums.flatMap { c =>
        Seq((s"sum_${c.name}", sum(col(c.name)), s"SUM(${c.name})", c.kind),
          (s"max_${c.name}", max(col(c.name)), s"MAX(${c.name})", c.kind))
      }
    val na = 1 + r.nextInt(math.min(3, aggCands.size))
    val aggs = r.shuffle(aggCands).take(na)
    st.copy(
      fr = Frame(graft.ops.Resample.downsampleWith(
        st.fr.df, d.name, unit, closed, label, aggs.map(a => a._1 -> a._2): _*)),
      sql = s"SELECT $bucketSql AS bucket, " +
        aggs.map(a => s"${a._3} AS ${a._1}").mkString(", ") +
        s" FROM ${wrap(st.sql)}GROUP BY $bucketSql",
      cols = FCol("bucket", 'd') +: aggs.map(a => FCol(a._1, a._4)).toVector,
      uniq = Vector("bucket"))
      .addOp(s"resample($unit(${d.name});closed=$closed,label=$label;" +
        s"${aggs.map(_._1).mkString(",")})")
  }

  /** pivot_table (engine Reshape.pivotTable = groupBy().pivot(values)
    * .agg — one partial/final aggregate when values are explicit) vs the
    * conditional-aggregation twin (SUM/MAX(CASE WHEN pivot = 'v' THEN m
    * END) per value). Pivot VALUES become output COLUMNS, so candidates
    * are restricted to strict-identifier domain values that don't
    * collide (case-insensitively — Spark resolution) with live columns.
    * Missing cells are NULL on both sides (Spark pivot leaves absent
    * combinations null; SUM/MAX over an empty CASE set is null — which
    * is why COUNT is NOT in this op's agg pool: COUNT(CASE) would give
    * 0). Rows whose pivot value is outside the chosen subset still form
    * index groups on both sides. */
  private def opPivot(st: St, r: Random): St = {
    def usable(c: FCol) = c.dom.filter(v =>
      v.matches("[A-Za-z][A-Za-z0-9_]*") &&
        !st.cols.exists(_.name.equalsIgnoreCase(v)))
      // two domain values differing only by case ('Foo'/'foo') would mint
      // pivot output columns that collide under Spark's case-insensitive
      // resolution — keep the first of each fold class (deterministic, and
      // a no-op for collision-free domains, so existing seeds are stable)
      .distinctBy(_.toLowerCase)
    val piv = pick(r, st.cols.filter(c => c.kind == 's' && c.lowCard && usable(c).size >= 2))
    val idx = pick(r, st.cols.filter(c => c.lowCard && c.name != piv.name))
    val pool = usable(piv)
    val vals = r.shuffle(pool).take(math.min(pool.size, 2 + r.nextInt(2))).sorted
    val m = pick(r, numeric(st))
    val useSum = r.nextBoolean()
    val agg = if (useSum) sum(col(m.name)) else max(col(m.name))
    val fn = if (useSum) "SUM" else "MAX"
    val cells = vals.map(v => s"$fn(CASE WHEN ${piv.name} = '$v' THEN ${m.name} END) AS $v")
    st.copy(
      fr = Frame(graft.ops.Reshape.pivotTable(st.fr.df, Seq(idx.name), piv.name, vals, agg)),
      sql = s"SELECT ${idx.name}, ${cells.mkString(", ")} FROM ${wrap(st.sql)}" +
        s"GROUP BY ${idx.name}",
      cols = idx +: vals.map(FCol(_, m.kind)).toVector,
      uniq = Vector(idx.name))
      .addOp(s"pivot(${idx.name}×${piv.name}[${vals.mkString(",")}];$fn(${m.name}))")
  }

  /** stack (wide→long through the `stack` GENERATOR — the Generate node,
    * a different physical path than melt's native Unpivot) vs the same
    * UNION ALL twin melt uses. Nulls are RETAINED (pandas stack
    * dropna=False / melt parity). */
  private def opStack(st: St, r: Random): St = {
    val uniqSet = st.uniq.toSet
    val byKind = numeric(st).filterNot(c => uniqSet(c.name))
      .groupBy(_.kind).filter(_._2.size >= 2)
    val pool = byKind(pick(r, byKind.keys.toSeq))
    val vals = r.shuffle(pool).take(2).map(_.name)
    val varName = fresh(st, "stk")
    val valName = s"${varName}v"
    val idCols = st.cols.filter(c => uniqSet(c.name))
    val ids = idCols.map(_.name)
    // stack does NOT type-coerce across its value args (unpivot does):
    // a BIGINT/INT pair like l_orderkey/l_linenumber is a hard analysis
    // error — cast every arm to the kind's widest type on BOTH sides
    val sqlType = if (pool.head.kind == 'i') "BIGINT" else "DOUBLE"
    val stackArgs = vals.map(v => s"'$v', CAST($v AS $sqlType)").mkString(", ")
    val fr2 = Frame(st.fr.df.select(
      ids.map(col) :+ expr(s"stack(2, $stackArgs) AS ($varName, $valName)"): _*))
    val arms = vals.map(v =>
      s"SELECT ${ids.mkString(", ")}, '$v' AS $varName, " +
        s"CAST($v AS $sqlType) AS $valName FROM ${wrap(st.sql)}")
    st.copy(
      fr = fr2,
      sql = arms.mkString("\nUNION ALL\n"),
      cols = idCols :+ FCol(varName, 's', vals.sorted, lowCard = true)
        :+ FCol(valName, pool.head.kind),
      uniq = st.uniq :+ varName)
      .addOp(s"stack(${vals.mkString("+")})")
  }

  /** cut-binning derive (engine Reshape.cut/cutLeftClosed — one codegen'd
    * when-chain): seed-fixed geometric bin edges, all three pandas edge
    * conventions (right-closed, include_lowest, left-closed). The twin
    * spells the same CASE with label literals interpolated from the SAME
    * Scala doubles, so label text parity is by construction. Out-of-range
    * and null inputs label NULL on both sides. The label column joins the
    * draw-able string domains (lowCard) — downstream IN-filters, groupbys
    * and heavy-hitters compose on it. */
  private def opCut(st: St, r: Random): St = {
    val c = pick(r, numeric(st))
    val name = fresh(st, "bin")
    val t = if (c.kind == 'i') pick(r, Seq(2.0, 5.0, 1000.0))
            else pick(r, Seq(0.03, 5.0, 20000.0))
    val bins = Seq(0.0, t, 2 * t, 4 * t)
    val variant = r.nextInt(3)
    val (fcol, whens, labels, tag) = variant match {
      case 0 => // pandas default: (lo, hi], lowest edge in no bin
        val ws = bins.sliding(2).map { case Seq(lo, hi) =>
          s"WHEN ${c.name} > $lo AND ${c.name} <= $hi THEN '($lo, $hi]'" }.toSeq
        (graft.ops.Reshape.cut(col(c.name), bins),
          ws, bins.sliding(2).map { case Seq(lo, hi) => s"($lo, $hi]" }.toSeq, "right")
      case 1 => // include_lowest: first bin widens to [lo, hi]
        val ws = bins.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
          if (i == 0) s"WHEN ${c.name} >= $lo AND ${c.name} <= $hi THEN '[$lo, $hi]'"
          else s"WHEN ${c.name} > $lo AND ${c.name} <= $hi THEN '($lo, $hi]'" }.toSeq
        (graft.ops.Reshape.cut(col(c.name), bins, includeLowest = true),
          ws, bins.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
            if (i == 0) s"[$lo, $hi]" else s"($lo, $hi]" }.toSeq, "incLowest")
      case _ => // right=False: [lo, hi)
        val ws = bins.sliding(2).map { case Seq(lo, hi) =>
          s"WHEN ${c.name} >= $lo AND ${c.name} < $hi THEN '[$lo, $hi)'" }.toSeq
        (graft.ops.Reshape.cutLeftClosed(col(c.name), bins),
          ws, bins.sliding(2).map { case Seq(lo, hi) => s"[$lo, $hi)" }.toSeq, "left")
    }
    st.copy(
      fr = st.fr.withColumn(name, fcol),
      sql = s"SELECT *, CASE ${whens.mkString(" ")} END AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, 's', labels.sorted, lowCard = true))
      .addOp(s"cut($name=$tag(${c.name}),t=$t)")
  }

  /** Filter through the PANDAS expression dialect (Frame.queryPandas →
    * PandasExpr translation) while the twin spells the same predicate in
    * native SQL — a translator bug (and/or/not precedence, in-list,
    * == rewriting) diverges the row sets. */
  private def opQueryPandas(st: St, r: Random): St = {
    val n = pick(r, numeric(st))
    val strs = st.cols.filter(c => c.kind == 's' && c.dom.size >= 2)
    val t = if (n.kind == 'i') pick(r, Seq(3L, 100L, 10000L)).toDouble
            else pick(r, Seq(0.05, 5.0, 1000.0))
    if (strs.nonEmpty && r.nextBoolean()) {
      val c = pick(r, strs)
      val keep = r.shuffle(c.dom).take(1 + r.nextInt(c.dom.size - 1)).sorted
      val pdList = keep.map(v => s"'$v'").mkString("[", ", ", "]")
      val sqlList = keep.map(v => s"'$v'").mkString("(", ", ", ")")
      st.copy(
        fr = st.fr.queryPandas(s"${n.name} > $t and ${c.name} in $pdList"),
        sql = s"SELECT * FROM ${wrap(st.sql)}WHERE ${n.name} > $t AND ${c.name} IN $sqlList")
        .addOp(s"queryPandas(${n.name}>$t and ${c.name} in)")
    } else {
      st.copy(
        fr = st.fr.queryPandas(s"not (${n.name} <= $t or ${n.name} == ${t * 2})"),
        sql = s"SELECT * FROM ${wrap(st.sql)}WHERE NOT (${n.name} <= $t OR ${n.name} = ${t * 2})")
        .addOp(s"queryPandas(not ${n.name}<=$t)")
    }
  }

  /** Derive through the pandas eval dialect — `**` must become POWER and
    * `//` FLOOR division in the translation; the twin spells the SQL
    * functions directly. Both sides evaluate in Spark, so any numeric
    * result is bit-identical unless the translation itself drifts. */
  private def opEvalPandas(st: St, r: Random): St = {
    val a = pick(r, numeric(st))
    val name = fresh(st, "ev")
    if (r.nextBoolean()) {
      st.copy(
        fr = st.fr.evalPandas(name, s"${a.name} ** 2 + 1"),
        sql = s"SELECT *, POWER(${a.name}, 2) + 1 AS $name FROM ${wrap(st.sql)}",
        cols = st.cols :+ FCol(name, 'n'))
        .addOp(s"evalPandas($name=${a.name}**2+1)")
    } else {
      // `//` accepts simple operands only (PandasExpr contract); FLOOR of
      // Spark's always-double `/` returns LONG for either input kind
      st.copy(
        fr = st.fr.evalPandas(name, s"${a.name} // 3"),
        sql = s"SELECT *, FLOOR(${a.name} / 3) AS $name FROM ${wrap(st.sql)}",
        cols = st.cols :+ FCol(name, 'i'))
        .addOp(s"evalPandas($name=${a.name}//3)")
    }
  }

  /** String derives that mint NEW group-key material mid-pipeline: a
    * numeric threshold CASE label, or upper(substring) of an existing
    * domain column — the derived domain is computed by the same rule, so
    * downstream IN-filters and groupbys keep drawing on it. */
  private def opStrDerive(st: St, r: Random): St = {
    val name = fresh(st, "sd")
    val strs = st.cols.filter(c => c.kind == 's' && c.dom.nonEmpty && c.dom.forall(_.nonEmpty))
    if (strs.nonEmpty && r.nextBoolean()) {
      val c = pick(r, strs)
      val k = 1 + r.nextInt(2)
      val dom = c.dom.map(v => v.substring(0, math.min(k, v.length)).toUpperCase).distinct.sorted
      st.copy(
        fr = st.fr.withColumn(name, upper(substring(col(c.name), 1, k))),
        sql = s"SELECT *, UPPER(SUBSTRING(${c.name}, 1, $k)) AS $name FROM ${wrap(st.sql)}",
        cols = st.cols :+ FCol(name, 's', dom, lowCard = dom.size <= 8))
        .addOp(s"strDerive($name=upper(substr(${c.name},$k)))")
    } else {
      val n = pick(r, numeric(st))
      val t = if (n.kind == 'i') pick(r, Seq(5L, 500L, 50000L)).toDouble
              else pick(r, Seq(1.0, 30.0, 5000.0))
      // null comparisons fall to the ELSE arm on both sides
      st.copy(
        fr = st.fr.withColumn(name, when(col(n.name) > t, lit("hi")).otherwise(lit("lo"))),
        sql = s"SELECT *, CASE WHEN ${n.name} > $t THEN 'hi' ELSE 'lo' END AS $name " +
          s"FROM ${wrap(st.sql)}",
        cols = st.cols :+ FCol(name, 's', Seq("hi", "lo"), lowCard = true))
        .addOp(s"strDerive($name=${n.name}>$t)")
    }
  }

  /** String containment filter (pandas str.contains/startswith/endswith,
    * regex=False): the needle is a slice of a KNOWN domain value so
    * matches exist; the twin spells instr/startswith/endswith — no LIKE,
    * so no wildcard-escaping asymmetry. Null strings drop on both sides
    * (null predicate ⇒ filtered). */
  private def opStrContains(st: St, r: Random): St = {
    val c = pick(r, st.cols.filter(x => x.kind == 's' && x.dom.exists(_.length >= 2)))
    val src = pick(r, c.dom.filter(_.length >= 2))
    r.nextInt(3) match {
      case 0 =>
        val from = r.nextInt(src.length - 1)
        val sub = src.substring(from, math.min(src.length, from + 1 + r.nextInt(3)))
        st.copy(
          fr = st.fr.filter(col(c.name).contains(sub)),
          sql = s"SELECT * FROM ${wrap(st.sql)}WHERE instr(${c.name}, '$sub') > 0")
          .addOp(s"strContains(${c.name},'$sub')")
      case 1 =>
        val pre = src.substring(0, 1 + r.nextInt(math.min(3, src.length)))
        st.copy(
          fr = st.fr.filter(col(c.name).startsWith(pre)),
          sql = s"SELECT * FROM ${wrap(st.sql)}WHERE startswith(${c.name}, '$pre')")
          .addOp(s"strStarts(${c.name},'$pre')")
      case _ =>
        val suf = src.substring(src.length - 1 - r.nextInt(math.min(3, src.length - 1)))
        st.copy(
          fr = st.fr.filter(col(c.name).endsWith(suf)),
          sql = s"SELECT * FROM ${wrap(st.sql)}WHERE endswith(${c.name}, '$suf')")
          .addOp(s"strEnds(${c.name},'$suf')")
    }
  }

  /** String slice derive (pandas str.slice + str.lower / str.upper): the
    * derived domain is computed by the SAME rule in Scala, so downstream
    * IN-filters and groupbys keep drawing on it. */
  private def opStrSlice(st: St, r: Random): St = {
    val c = pick(r, st.cols.filter(x => x.kind == 's' && x.dom.nonEmpty && x.dom.forall(_.nonEmpty)))
    val name = fresh(st, "sl")
    val pos = 1 + r.nextInt(2)
    val len = 1 + r.nextInt(3)
    val lowerIt = r.nextBoolean()
    val rule = (v: String) => {
      val s = if (pos - 1 < v.length) v.substring(pos - 1, math.min(v.length, pos - 1 + len)) else ""
      if (lowerIt) s.toLowerCase else s
    }
    val dom = c.dom.map(rule).distinct.sorted
    val inner = substring(col(c.name), pos, len)
    val (fcol, fn) = if (lowerIt) (lower(inner), "LOWER") else (inner, "")
    val sqlExpr = if (lowerIt) s"LOWER(SUBSTRING(${c.name}, $pos, $len))"
                  else s"SUBSTRING(${c.name}, $pos, $len)"
    st.copy(
      fr = st.fr.withColumn(name, fcol),
      sql = s"SELECT *, $sqlExpr AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, 's', dom, lowCard = dom.size <= 8))
      .addOp(s"strSlice($name=$fn(${c.name},$pos,$len))")
  }

  /** Regex extract derive (pandas str.extract, one group): first run of
    * letters, or first run of digits. Spark returns '' on no match; the
    * Scala-side domain rule reproduces that, so the derived domain stays
    * draw-able. */
  private def opStrExtract(st: St, r: Random): St = {
    val c = pick(r, st.cols.filter(x => x.kind == 's' && x.dom.nonEmpty))
    val name = fresh(st, "rx")
    val (pat, scalaRx, tag) =
      if (r.nextBoolean()) ("([A-Za-z]+)", "[A-Za-z]+".r, "alpha")
      else ("([0-9]+)", "[0-9]+".r, "digits")
    val dom = c.dom.map(v => scalaRx.findFirstIn(v).getOrElse("")).distinct.sorted
    st.copy(
      fr = st.fr.withColumn(name, regexp_extract(col(c.name), pat, 1)),
      sql = s"SELECT *, regexp_extract(${c.name}, '$pat', 1) AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, 's', dom, lowCard = dom.size <= 8))
      .addOp(s"strExtract($name=$tag(${c.name}))")
  }

  /** Date-part derive (pandas dt.year/month/quarter/dayofweek): mints a
    * low-cardinality integer group key mid-pipeline. dayofweek follows
    * Spark SQL (1=Sunday) on both sides — the engine's pandas-dialect
    * weekday mapping is pinned by its own oracle rows (q73/q79/q239),
    * here both twins share one convention by construction. */
  private def opDatePart(st: St, r: Random): St = {
    val d = pick(r, st.cols.filter(_.kind == 'd'))
    val name = fresh(st, "dp")
    val (fcol, sqlFn, tag) = r.nextInt(4) match {
      case 0 => (year(col(d.name)), s"year(${d.name})", "year")
      case 1 => (month(col(d.name)), s"month(${d.name})", "month")
      case 2 => (quarter(col(d.name)), s"quarter(${d.name})", "quarter")
      case _ => (dayofweek(col(d.name)), s"dayofweek(${d.name})", "dayofweek")
    }
    st.copy(
      fr = st.fr.withColumn(name, fcol.cast("long")),
      sql = s"SELECT *, CAST($sqlFn AS BIGINT) AS $name FROM ${wrap(st.sql)}",
      cols = st.cols :+ FCol(name, 'i', lowCard = true))
      .addOp(s"datePart($name=$tag(${d.name}))")
  }

  /** Date filter (pandas boolean dt masks): month-subset or a datediff
    * horizon from a fixed anchor inside the fixture's date range. */
  private def opDateFilter(st: St, r: Random): St = {
    val d = pick(r, st.cols.filter(_.kind == 'd'))
    if (r.nextBoolean()) {
      val months = r.shuffle(1 to 12).take(3 + r.nextInt(6)).sorted
      st.copy(
        fr = st.fr.filter(month(col(d.name)).isin(months.map(_.asInstanceOf[Any]): _*)),
        sql = s"SELECT * FROM ${wrap(st.sql)}WHERE month(${d.name}) IN (${months.mkString(", ")})")
        .addOp(s"dateFilter(month(${d.name}) in ${months.mkString("/")})")
    } else {
      val anchor = pick(r, Seq("2020-06-15", "2021-01-01", "2021-09-30"))
      val horizon = pick(r, Seq(90, 365, 800))
      st.copy(
        fr = st.fr.filter(abs(datediff(col(d.name), lit(anchor))) <= horizon),
        sql = s"SELECT * FROM ${wrap(st.sql)}WHERE abs(datediff(${d.name}, '$anchor')) <= $horizon")
        .addOp(s"dateFilter(|${d.name}-$anchor|<=${horizon}d)")
    }
  }

  /** Global backward asof against a literal threshold ladder — the
    * engine runs the two-phase union+prefix shape (Joins.asofGlobal),
    * the twin a left-join + row_number pick of the greatest right key
    * <= the left key. Null left keys keep their row with null payload
    * on both sides (engine rule; SQL: NULL <= NULL matches nothing). */
  private def opAsofGlobal(st: St, r: Random): St = {
    val n = pick(r, numeric(st))
    val name = fresh(st, "av")
    val view = s"fz_asof${st.ops.size}"
    val ladder = Seq(0.0, 2.0, 7.0, 30.0, 120.0, 900.0, 4500.0, 30000.0, 150000.0)
    val right = spark.createDataFrame(
      ladder.zipWithIndex.map { case (k, i) => (k, s"b$i") }).toDF("__ark", name)
    right.createOrReplaceTempView(view)
    val fr2 = Frame(graft.ops.Joins.asofGlobal(
      st.fr.df.withColumn("__alk", col(n.name).cast("double")),
      right, "__alk", "__ark", Seq(name), lit(0L)).drop("__alk", "__ark"))
    val part = st.uniq.mkString(", ")
    st.copy(
      fr = fr2,
      sql = s"SELECT ${selectList(st.cols)}, $name FROM (" +
        s"SELECT l.*, r.$name, row_number() OVER (PARTITION BY $part " +
        s"ORDER BY r.__ark DESC) AS __rn FROM ${wrap(st.sql)}l " +
        s"LEFT JOIN $view r ON r.__ark <= CAST(l.${n.name} AS DOUBLE)) WHERE __rn = 1",
      cols = st.cols :+ FCol(name, 's', ladder.indices.map(i => s"b$i"), lowCard = true))
      .addOp(s"asofGlobal(${n.name})")
  }

  /** Equi-merge from the lineitem base onto orders (many-to-one on
    * l_orderkey; the right key is unique so row multiplicity — and with
    * it `uniq` — is preserved). Together with opJoinCustomer this puts a
    * random equi-join inside pipelines from BOTH base tables. */
  private def opJoinOrders(st: St, r: Random): St = {
    val how = pick(r, Seq("inner", "left"))
    val ord = Frame(spark.table("fz_orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority"))
    st.copy(
      fr = st.fr.mergeOn(ord, Seq("l_orderkey"), Seq("o_orderkey"), how)
        .drop("o_orderkey"),
      sql = s"SELECT l.${st.cols.map(_.name).mkString(", l.")}, " +
        s"r.o_totalprice, r.o_orderpriority " +
        s"FROM ${wrap(st.sql)}l ${if (how == "inner") "JOIN" else "LEFT JOIN"} " +
        s"fz_orders r ON l.l_orderkey = r.o_orderkey",
      cols = st.cols :+ FCol("o_totalprice", 'n')
        :+ FCol("o_orderpriority", 's', strDoms("o_orderpriority"), lowCard = true),
      joined = true)
      .addOp(s"join(orders,$how)")
  }

  /** Keyed merge_asof (Joins.asofByKeys — the one-shuffle union+window
    * plan) with direction backward|forward and optional tolerance,
    * against a deterministic per-group threshold ladder (each group's
    * ladder is shifted so a cross-group match surfaces as a value
    * mismatch, not silence). The SQL twin replays it as a keyed
    * left-join + row_number pick; tolerance folds into the join
    * predicate — sound for one-sided directions because candidates are
    * ordered away from the key, so filter-then-pick-nearest equals
    * pick-nearest-then-filter. Null left by/on keys keep their row with
    * null payload on both sides (engine rule; SQL: NULL matches
    * nothing). */
  private def opAsofBy(st: St, r: Random): St = {
    val k = pick(r, st.cols.filter(c => c.lowCard && c.kind == 's' && c.dom.nonEmpty))
    val n = pick(r, numeric(st))
    val name = fresh(st, "ab")
    val view = s"fz_asofby${st.ops.size}"
    val direction = pick(r, Seq("backward", "forward"))
    val tol: Option[Long] = pick(r, Seq(None, Some(100L), Some(5000L)))
    val base = Seq(0.0, 2.0, 7.0, 30.0, 120.0, 900.0, 4500.0, 30000.0, 150000.0)
    val rows = k.dom.zipWithIndex.flatMap { case (g, gi) =>
      base.zipWithIndex.map { case (v, i) => (g, v + gi * 3, s"${g}_b$i") } }
    val right = spark.createDataFrame(rows).toDF("__brk", "__ark", name)
    right.createOrReplaceTempView(view)
    val fr2 = Frame(graft.ops.Joins.asofByKeys(
      st.fr.df.withColumn("__alk", col(n.name).cast("double")),
      right, "__alk", "__ark", Seq(k.name), Seq("__brk"), Seq(name),
      lit(0L), direction, allowExactMatches = true, tolerance = tol)
      .drop("__alk"))
    val cmp = if (direction == "backward") "<=" else ">="
    val ord = if (direction == "backward") "DESC" else "ASC"
    val tolPred = tol.map(t =>
      s" AND abs(CAST(l.${n.name} AS DOUBLE) - r.__ark) <= $t").getOrElse("")
    val part = st.uniq.mkString(", ")
    st.copy(
      fr = fr2,
      sql = s"SELECT ${selectList(st.cols)}, $name FROM (" +
        s"SELECT l.*, r.$name, row_number() OVER (PARTITION BY $part " +
        s"ORDER BY r.__ark $ord) AS __rn FROM ${wrap(st.sql)}l " +
        s"LEFT JOIN $view r ON r.__brk = l.${k.name} " +
        s"AND r.__ark $cmp CAST(l.${n.name} AS DOUBLE)$tolPred) WHERE __rn = 1",
      cols = st.cols :+ FCol(name, 's', rows.map(_._3), lowCard = true))
      .addOp(s"asofBy(${k.name};${n.name},$direction,tol=${tol.getOrElse("-")})")
  }

  /** Quantized-histogram quantile (Sketch.quantileQuantized via
    * Frame.quantileApprox) against a scalar-subquery twin: the inner
    * SELECT aggregates lo/hi/rem over the cum-histogram, so an EMPTY
    * upstream yields one all-null row → value NULL on both sides (a
    * GROUP-BY-shaped twin would yield zero rows and diverge — the shape
    * the registered oracles never exercise because fixtures are never
    * empty). Terminal-ish: the frame collapses to one (q, value) row. */
  private def opQuantileSketch(st: St, r: Random): St = {
    val c = pick(r, numeric(st))
    val (num, den) = pick(r, Seq((250000L, 1000000L), (500000L, 1000000L),
      (750000L, 1000000L), (900000L, 1000000L)))
    val scale = r.nextInt(3) // 0, 1, 2 decimal digits kept
    val mul = Seq(1L, 10L, 100L)(scale)
    val denom = den * mul
    val rk = s"(CAST((n - 1) AS DECIMAL(38,0)) * $num)"
    val loRank = s"($rk - ($rk % $den)) / $den + 1"
    val hiRank = s"$loRank + (CASE WHEN $rk % $den > 0 THEN 1 ELSE 0 END)"
    st.copy(
      fr = st.fr.quantileApprox(c.name, Seq(num.toDouble / den), scale),
      sql = s"SELECT CAST($num AS DOUBLE) / $den AS q, (" +
        s"SELECT CAST(($den - rem) * lo + rem * hi AS DOUBLE) / $denom FROM (" +
        s"SELECT min(CASE WHEN cum >= $loRank THEN qv END) AS lo, " +
        s"min(CASE WHEN cum >= $hiRank THEN qv END) AS hi, " +
        s"max($rk % $den) AS rem FROM (" +
        s"SELECT qv, SUM(cnt) OVER (ORDER BY qv) AS cum, SUM(cnt) OVER () AS n FROM (" +
        s"SELECT CAST(FLOOR(${c.name} * $mul + 0.5) AS BIGINT) AS qv, COUNT(*) AS cnt " +
        s"FROM ${wrap(st.sql)}WHERE ${c.name} IS NOT NULL GROUP BY 1)))) AS value",
      cols = Vector(FCol("q", 'n'), FCol("value", 'n')),
      uniq = Vector("q"), joined = st.joined)
      .addOp(s"quantileSketch(${c.name},$num/$den,s$scale)")
  }

  /** Exact φ-heavy-hitters (Misra–Gries candidates + verify) against the
    * straightforward HAVING twin — hash parity proves candidate recall
    * under whatever distribution the random pipeline built. φ denominators
    * divide 10⁶ so Frame.heavyHitters' rational equals the twin's. */
  private def opHeavyHitters(st: St, r: Random): St = {
    val cands = st.cols.filter(c => c.lowCard && c.kind == 's')
    val c = pick(r, cands)
    val phiDen = pick(r, Seq(2L, 4L, 8L, 10L, 20L, 25L))
    val num6 = 1000000L / phiDen // exact: all divisors of 10^6
    st.copy(
      fr = st.fr.heavyHitters(c.name, 1.0 / phiDen),
      sql = s"SELECT ${c.name}, cnt FROM (" +
        s"SELECT ${c.name}, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS tot " +
        s"FROM ${wrap(st.sql)}WHERE ${c.name} IS NOT NULL GROUP BY ${c.name}) " +
        s"WHERE CAST(cnt AS DECIMAL(38,0)) * 1000000 >= CAST(tot AS DECIMAL(38,0)) * $num6",
      cols = Vector(st.cols.find(_.name == c.name).get, FCol("cnt", 'i')),
      uniq = Vector(c.name), joined = st.joined)
      .addOp(s"heavyHitters(${c.name},1/$phiDen)")
  }

  // guards: an op is drawable only when its inputs exist
  private def available(st: St): Seq[(Int, (St, Random) => St)] = {
    val hasNum = numeric(st).nonEmpty
    val hasDbl = st.cols.exists(_.kind == 'n')
    val hasStr = st.cols.exists(c => c.kind == 's' && c.dom.size >= 2)
    val hasLow = st.cols.exists(_.lowCard)
    val hasUniq = st.uniq.nonEmpty
    Seq(
      (if (hasNum) 3 else 0) -> (opFilterNum _),
      (if (hasStr) 2 else 0) -> (opFilterStr _),
      (if (hasNum) 2 else 0) -> (opDerive _),
      (if (hasNum) 1 else 0) -> (opDeriveNullable _),
      (if (hasDbl) 1 else 0) -> (opFillna _),
      1 -> (opDropna _),
      (if (hasDbl) 1 else 0) -> (opClip _),
      (if (hasLow) 2 else 0) -> (opGroupAgg _),
      (if (hasUniq) 2 else 0) -> (opSortHead _),
      (if (hasUniq) 2 else 0) -> (opDedup _),
      (if (hasUniq && hasLow && numeric(st).size >= 2) 2 else 0) -> (opGbCumsum _),
      (if (hasUniq && hasLow && numeric(st).size >= 2) 2 else 0) -> (opGbRolling _),
      (if (hasUniq && hasLow && numeric(st).size >= 2) 2 else 0) -> (opGbOffset _),
      (if (hasLow && numeric(st).size >= 2) 2 else 0) -> (opGbRank _),
      (if (hasUniq && hasLow && numeric(st).size >= 2) 1 else 0) -> (opGbCumExtra _),
      (if (hasUniq && hasNum) 2 else 0) -> (opExpanding _),
      (if (hasUniq && numeric(st).filterNot(c => st.uniq.contains(c.name))
        .groupBy(_.kind).exists(_._2.size >= 2)) 1 else 0) -> (opMelt _),
      (if (hasUniq && numeric(st).filterNot(c => st.uniq.contains(c.name))
        .groupBy(_.kind).exists(_._2.size >= 2)) 1 else 0) -> (opStack _),
      (if (canPivot(st)) 1 else 0) -> (opPivot _),
      (if (hasNum) 1 else 0) -> (opCut _),
      (if (st.cols.exists(_.kind == 'd') && hasNum) 2 else 0) -> (opResample _),
      (if (hasNum) 2 else 0) -> (opQueryPandas _),
      (if (hasNum) 1 else 0) -> (opEvalPandas _),
      (if (hasNum || st.cols.exists(c => c.kind == 's' && c.dom.nonEmpty)) 1 else 0)
        -> (opStrDerive _),
      (if (st.cols.exists(c => c.kind == 's' && c.dom.exists(_.length >= 2))) 2 else 0)
        -> (opStrContains _),
      (if (st.cols.exists(c => c.kind == 's' && c.dom.nonEmpty && c.dom.forall(_.nonEmpty))) 1 else 0)
        -> (opStrSlice _),
      (if (st.cols.exists(c => c.kind == 's' && c.dom.nonEmpty)) 1 else 0)
        -> (opStrExtract _),
      (if (st.cols.exists(_.kind == 'd')) 2 else 0) -> (opDatePart _),
      (if (st.cols.exists(_.kind == 'd')) 2 else 0) -> (opDateFilter _),
      (if (hasUniq && hasNum) 1 else 0) -> (opAsofGlobal _),
      (if (hasNum) 1 else 0) -> (opQuantileSketch _),
      (if (st.cols.exists(c => c.lowCard && c.kind == 's')) 1 else 0)
        -> (opHeavyHitters _),
      1 -> (opRename _),
      (if (hasNum) 1 else 0) -> (opConcat _),
      (if (st.cols.exists(_.name == "o_custkey") && !st.joined) 3 else 0)
        -> (opJoinCustomer _),
      (if (st.cols.exists(_.name == "l_orderkey") && !st.joined) 2 else 0)
        -> (opJoinOrders _),
      (if (hasUniq && hasNum &&
        st.cols.exists(c => c.lowCard && c.kind == 's' && c.dom.nonEmpty)) 1 else 0)
        -> (opAsofBy _))
      .filter(_._1 > 0)
  }

  /** The join/asof sub-pool, for pipelines that must contain one. */
  private def joinPool(st: St): Seq[(St, Random) => St] = Seq(
    (st.cols.exists(_.name == "o_custkey") && !st.joined) -> (opJoinCustomer _),
    (st.cols.exists(_.name == "l_orderkey") && !st.joined) -> (opJoinOrders _),
    (st.uniq.nonEmpty && numeric(st).nonEmpty &&
      st.cols.exists(c => c.lowCard && c.kind == 's' && c.dom.nonEmpty)) -> (opAsofBy _)
  ).collect { case (true, f) => f }

  /** opPivot's guard, shared with the pool weights: a pivotable string
    * domain (≥2 strict-identifier values not colliding with live column
    * names), a second lowCard column for the index, and a measure. */
  private def canPivot(st: St): Boolean =
    numeric(st).nonEmpty && st.cols.exists(c => c.kind == 's' && c.lowCard &&
      c.dom.count(v => v.matches("[A-Za-z][A-Za-z0-9_]*") &&
        !st.cols.exists(_.name.equalsIgnoreCase(v))) >= 2) &&
      st.cols.count(_.lowCard) >= 2

  /** The reshape/resample sub-pool, for pipelines that must contain one
    * (round-13 batch: pivot_table, stack-generator, cut binning across
    * all three edge conventions, closed/label resample variants). */
  private def reshapePool(st: St): Seq[(St, Random) => St] = {
    val canWide = st.uniq.nonEmpty &&
      numeric(st).filterNot(c => st.uniq.contains(c.name))
        .groupBy(_.kind).exists(_._2.size >= 2)
    Seq(
      canPivot(st) -> (opPivot _),
      canWide -> (opStack _),
      canWide -> (opMelt _),
      numeric(st).nonEmpty -> (opCut _),
      (st.cols.exists(_.kind == 'd') && numeric(st).nonEmpty) -> (opResample _)
    ).collect { case (true, f) => f }
  }

  /** The offset/rank window sub-pool, for pipelines that must contain one
    * (round-12 batch: shift/diff/pct_change, rank methods, cummax/min/count). */
  private def winPool(st: St): Seq[(St, Random) => St] = {
    val hasLow = st.cols.exists(_.lowCard)
    Seq(
      (st.uniq.nonEmpty && hasLow && numeric(st).size >= 2) -> (opGbOffset _),
      (hasLow && numeric(st).size >= 2) -> (opGbRank _),
      (st.uniq.nonEmpty && hasLow && numeric(st).size >= 2) -> (opGbCumExtra _)
    ).collect { case (true, f) => f }
  }

  private def drawOp(st: St, r: Random): St = {
    val pool = available(st)
    val total = pool.map(_._1).sum
    var roll = r.nextInt(total)
    val f = pool.find { case (w, _) => roll -= w; roll < 0 }.get._2
    f(st, r)
  }

  private def runPipeline(seed: Int, forceJoin: Boolean = false,
      forceWin: Boolean = false, forceReshape: Boolean = false): Unit = {
    val r = new Random(seed)
    var st = baseState(r)
    val len = 5 + r.nextInt(4)
    // forceJoin/forceWin/forceReshape plant one op from the named sub-pool
    // at a random step (guards permitting) so the focused batches actually
    // exercise the family instead of leaving it to the draw weights
    val forcedAt = if (forceJoin || forceWin || forceReshape) r.nextInt(len) else -1
    def forcedPool(s: St) =
      if (forceJoin) joinPool(s)
      else if (forceReshape) reshapePool(s)
      else winPool(s)
    (0 until len).foreach { i =>
      st = if (i == forcedAt && forcedPool(st).nonEmpty) pick(r, forcedPool(st))(st, r)
      else drawOp(st, r)
    }
    try assertParity(st.fr.df, spark.sql(st.sql))
    catch {
      case e: Throwable =>
        // post-mortem aid: GRAFT_FUZZ_DUMP=/tmp/dir writes both sides of
        // the failing seed as parquet before failing, so the diverging
        // rows can be diffed offline instead of re-deriving the seeded
        // pipeline by hand
        sys.env.get("GRAFT_FUZZ_DUMP").foreach { dir =>
          st.fr.df.write.mode("overwrite").parquet(s"$dir/seed${seed}_frame")
          spark.sql(st.sql).write.mode("overwrite").parquet(s"$dir/seed${seed}_sql")
        }
        fail(s"fuzz seed=$seed pipeline=${st.ops.reverse.mkString(" | ")}\n" +
          s"sql replay:\n${st.sql}\n--> ${e.getMessage}")
    }
  }

  for (batch <- 0 until math.min(6, ciBatches)) {
    val from = batch * 30; val to = from + 29
    test(s"random pipelines $from..$to match their independent SQL replay") {
      strDoms // force base views
      (from to to).foreach(runPipeline(_))
    }
  }

  // round-12 family closure (VERDICT r11 item 5): 120 fixed seeds where
  // a join/asof op is guaranteed to appear mid-pipeline — equi-merge
  // (inner/left, both bases) and keyed merge_asof (backward/forward,
  // with/without tolerance) composed with the whole existing grammar
  for (batch <- 0 until math.min(4, ciBatches)) {
    val from = 2000 + batch * 30; val to = from + 29
    test(s"join/asof-focused pipelines $from..$to match their SQL replay") {
      strDoms
      (from to to).foreach(runPipeline(_, forceJoin = true))
    }
  }

  // round-12 window closure: 90 fixed seeds where one offset/rank/cum-extra
  // window op is guaranteed to appear mid-pipeline — grouped shift/diff/
  // pct_change, rank (min/dense/max/average, asc/desc, pct incl. the
  // dense count_distinct join-back), cummax/cummin/cumcount — composed
  // with the whole existing grammar
  for (batch <- 0 until math.min(3, ciBatches)) {
    val from = 3000 + batch * 30; val to = from + 29
    test(s"window-focused pipelines $from..$to match their SQL replay") {
      strDoms
      (from to to).foreach(runPipeline(_, forceWin = true))
    }
  }

  // round-13 family closure (VERDICT r12 item 2): 120 fixed seeds where
  // one reshape/resample op is guaranteed to appear mid-pipeline —
  // pivot_table (groupBy.pivot vs conditional-agg twin), stack (the
  // Generate node vs melt's Unpivot), cut binning (all three pandas edge
  // conventions), and the closed/label resample grid — composed with the
  // whole existing grammar. The last §2 family without differential fuzz.
  for (batch <- 0 until math.min(4, ciBatches)) {
    val from = 4000 + batch * 30; val to = from + 29
    test(s"reshape/resample-focused pipelines $from..$to match their SQL replay") {
      strDoms
      (from to to).foreach(runPipeline(_, forceReshape = true))
    }
  }

  // Regression seeds promoted from deep hunts into the fixed CI set —
  // each found a real defect; the pipeline string is in the fail message
  // history (TESTDATA.md fuzz log).
  test("regression seeds from extended sweeps") {
    strDoms
    // r12 sweep @10000: expanding twin's integer modulus made the SQL
    // side BIGINT where the Frame side ran DOUBLE — same values, but the
    // multiset compare's string-sorted order diverged and the positional
    // compare paired unrelated rows. Fixed twice over: the twin now
    // spells 1000.0 (type parity at the source) and SparkSuite.canon
    // sorts on a numeric-canonical key (cross-type order stability).
    runPipeline(10459)
    // r14 sweep @70000: a NaN pct_change (IEEE 0/0) flowed into dropna —
    // the engine (Spark na.drop = pandas semantics) drops NaN, but the
    // twin's IS-NOT-NULL-only predicate kept 3 rows. Twin now spells
    // NOT isnan(c) on double columns. Engine was RIGHT; harness gap.
    runPipeline(70407)
  }

  // One-off deep hunts: GRAFT_FUZZ_EXTRA=600 sbt "testOnly graft.FuzzSpec"
  // runs that many additional seeds from GRAFT_FUZZ_BASE (default 1000) up
  // (not part of the fixed CI set, so CI time stays bounded while the
  // generator stays explorable). Bump the base per sweep so successive
  // deep hunts draw FRESH pipelines instead of replaying the same ones —
  // the generator is seed-deterministic, so without a moving base every
  // sweep after the first adds zero new coverage. Keep the base clear of
  // the forced-family ranges (2000-2119 joins, 3000-3089 windows,
  // 4000-4119 reshape) unless
  // overlap is intended; runPipeline is deterministic per seed, so
  // overlap is harmless but redundant.
  sys.env.get("GRAFT_FUZZ_EXTRA").flatMap(_.toIntOption).filter(_ > 0).foreach { n =>
    // toIntOption + a floor of 200: a malformed value must fail soft (the
    // bare .toInt would throw during suite CONSTRUCTION and abort every
    // test), and a base below 200 would silently replay the fixed CI seed
    // range 0..179 instead of drawing fresh pipelines.
    val base = sys.env.get("GRAFT_FUZZ_BASE").flatMap(_.toIntOption).filter(_ >= 200).getOrElse(1000)
    test(s"extended fuzz: seeds $base..${base + n - 1}") {
      strDoms
      (base until base + n).foreach(runPipeline(_))
    }
  }
}
