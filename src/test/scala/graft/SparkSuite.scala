package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared test base: one local SparkSession per suite + parity helpers
  * (mirrors the reference's eval_general harness,
  * modin/tests/pandas/utils.py:974, which compares a modin result against
  * the pandas ground truth — here the ground truth is a hand-rolled Spark
  * SQL / literal expected value).
  */
abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSuite.session
  def sfDir = "/root/testdata/sf0.001"

  def table(name: String): DataFrame = queries.QueryKit.t(spark, sfDir, name)

  /** Order-insensitive frame equality: sorts columns by name and rows by
    * every column's string form, compares with a double tolerance. */
  def assertParity(got: DataFrame, expected: DataFrame, tol: Double = 1e-6): Unit = {
    val gc = got.columns.sorted.toIndexedSeq
    val ec = expected.columns.sorted.toIndexedSeq
    assert(gc == ec, s"schema mismatch: got $gc expected $ec")
    val g = canon(got.select(gc.map(org.apache.spark.sql.functions.col): _*))
    val e = canon(expected.select(ec.map(org.apache.spark.sql.functions.col): _*))
    assert(g.length == e.length, s"row count: got ${g.length} expected ${e.length}")
    g.zip(e).zipWithIndex.foreach { case ((gr, er), i) =>
      gr.toSeq.zip(er.toSeq).zipWithIndex.foreach { case ((gv, ev), j) =>
        val ok = (gv, ev) match {
          // `a == b` first: ±Infinity is equal to itself but Inf-Inf=NaN
          // fails the tolerance test (pct_change with a zero base emits it)
          case (a: Double, b: Double) =>
            a == b || (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
          case (a: Float, b: Float) =>
            a == b || (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.abs(b.toDouble))
          case (a, b) => a == b || String.valueOf(a) == String.valueOf(b)
        }
        assert(ok, s"row $i col ${gc(j)}: got $gv expected $ev")
      }
    }
  }

  /** Compare a Frame-built DataFrame against a Spark SQL ground truth run
    * on registered temp views of the test tables. */
  def assertMatchesSql(got: DataFrame, sql: String, tables: Seq[String], tol: Double = 1e-6): Unit = {
    tables.foreach(t => table(t).createOrReplaceTempView(t))
    assertParity(got, spark.sql(sql), tol)
  }

  /** Sort-key form of a cell: integral doubles/floats render as plain
    * integers so a DOUBLE column on one side and a BIGINT on the other
    * (same values — the cell compare is cross-type) still sort the two
    * row sets identically. Without this, "2.0" vs "2" diverges the
    * canonical order and the positional compare pairs unrelated rows
    * (fuzz seed 10459: a SQL twin summed BIGINT where the Frame side
    * summed DOUBLE). Only the ORDER key changes — cell equality in
    * assertParity is untouched, so this can only align orderings, never
    * hide a value difference. */
  private[graft] def keyStr(v: Any): String = v match {
    case d: java.lang.Double if !d.isNaN && !d.isInfinite && d.doubleValue.isWhole =>
      // Exact for ANY finite whole double (BigDecimal(d) is the exact
      // binary value), so no 2^53 cutoff -- large wholes key as plain
      // integers instead of diverging into scientific notation when the
      // other side is BIGINT/DECIMAL.
      BigDecimal(d.doubleValue).toBigInt.toString
    case f: java.lang.Float => keyStr(java.lang.Double.valueOf(f.doubleValue))
    case bd: java.math.BigDecimal =>
      // DECIMAL cells must key like their DOUBLE/BIGINT twins ("2", not
      // "2.0"/"2E+1"): strip trailing zeros, render wholes as integers,
      // plain (non-scientific) form otherwise.
      val s = bd.stripTrailingZeros
      if (s.scale <= 0) s.toBigInteger.toString else s.toPlainString
    case bd: scala.math.BigDecimal => keyStr(bd.bigDecimal)
    case x => String.valueOf(x)
  }

  // Cell keys joined with an explicit \u0000 separator so multi-column
  // keys cannot collide across column boundaries: an empty separator
  // would key both (2.0,"3x") and (23.0,"x") as "23x" and let such ties
  // pair unrelated rows across the two sides.
  private[graft] def canon(df: DataFrame): Array[Row] =
    df.collect().sortBy(_.toSeq.map(keyStr).mkString("\u0000"))
}

object SparkSuite {
  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // chaos-matrix knob (TESTDATA.md): semicolon-separated k=v Spark confs,
    // e.g. GRAFT_TEST_EXTRA_CONFS="spark.sql.adaptive.coalescePartitions.enabled=false"
    sys.env.get("GRAFT_TEST_EXTRA_CONFS").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      })
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A positive-integer env knob. A malformed or non-positive value falls
    * back to `default`, with a printed note, instead of throwing during
    * suite construction, which would abort every test in the run. */
  def positiveIntEnv(name: String, default: Int): Int =
    sys.env.get(name).fold(default) { raw =>
      raw.trim.toIntOption.filter(_ > 0).getOrElse {
        println(s"$name=$raw is not a positive integer; using the default $default")
        default
      }
    }
}
