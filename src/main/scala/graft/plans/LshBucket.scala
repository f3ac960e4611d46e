package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/**
 * Native Catalyst expression: random-hyperplane LSH bucket of a float/double
 * vector — the sign-of-projection bits of `nPlanes` deterministic
 * hyperplanes packed into one long.
 *
 * Bit-identical to the Column formulations it replaces
 * (LshBucketParitySpec's `lshBucketRef` / `lshBucketMd5Ref`, kept as the
 * executable spec of that differential test): per plane `q = planeOffset + p`,
 * the projection is the LEFT FOLD in dimension order of
 * `x_d * component(q, d)` accumulated in double, and bit `p` is set iff
 * `proj >= 0` under Spark's total-order comparison (NaN counts as
 * greater-than-everything, so a NaN projection sets the bit — Java `>=`
 * alone would not). A null/empty vector, or any null element, yields
 * bucket 0 (the lambda fold goes null at the first null product and
 * `when(null >= 0, bit).otherwise(0)` emits 0 for every plane).
 *
 * `component(q, d)` per hash family:
 *   - xx:  `(pmod(xxhash64(q: int, d: long), 2000001) - 1e6) / 1e6`
 *     (the fast path — structural seeds, no broadcast state);
 *   - md5: `+1.0` if the first hex digit of `md5("q:d")` is < 8 else
 *     `-1.0` (the engine-portable twin DuckDB replays, q108b's anchor).
 *
 * Why an Expression and not the lambda tree: `aggregate`/`zip_with` are
 * CodegenFallback — per row the tree allocated a `sequence` index array
 * plus a zipped product array PER PLANE and interpreted the fold
 * element-by-element (the q184 HOF-fold class, measured 10-20 µs/row of
 * pure interpretation). This kernel extracts the vector once and runs
 * nPlanes fused multiply-add loops. The plane components themselves are a
 * pure function of the (plane, dim) integers — metadata, not data — so
 * they are memoized per JVM in [[LshBucketKernel.comps]]; every row still
 * computes its own projections from its own elements.
 */
case class LshBucketKernel(child: Expression, nPlanes: Int, planeOffset: Int,
    md5: Boolean) extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 64, s"nPlanes must be in [1, 64]: $nPlanes")
  require(planeOffset >= 0, s"planeOffset must be >= 0: $planeOffset")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> input, got ${other.catalogString}")
  }

  @transient private lazy val elemIsDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = LongType
  // a null vector folds to bucket 0, never to NULL — see the class doc
  override def nullable: Boolean = false
  override def prettyName: String = if (md5) "graft_lsh_md5" else "graft_lsh_xx"

  override protected def withNewChildInternal(newChild: Expression): LshBucketKernel =
    copy(child = newChild)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else LshBucketKernel.bucket(v.asInstanceOf[ArrayData], nPlanes, planeOffset,
      elemIsDouble, md5)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val mod = "graft.plans.LshBucketKernel"
    ev.copy(code = code"""
      ${childGen.code}
      final long ${ev.value} = ${childGen.isNull} ? 0L :
        $mod.bucket(${childGen.value}, $nPlanes, $planeOffset, $elemIsDouble, $md5);
    """, isNull = FalseLiteral)
  }
}

object LshBucketKernel {

  /** xxhash64(q: int, d: long) with Spark's default seed 42, folded into
    * [-1, 1] exactly as the Column tree does. */
  private def xxComponent(q: Int, d: Long): Double = {
    val h = XXH64.hashLong(d, XXH64.hashInt(q, 42L))
    val m = 2000001L
    val pm = ((h % m) + m) % m
    (pm.toDouble - 1000000.0) / 1000000.0
  }

  /** ±1 Rademacher sign from md5("q:d") — first hex digit < 8 ⇔ the top
    * bit of byte 0 is clear (hex round-trip elided). */
  private def md5Sign(q: Int, d: Long): Double = {
    val dig = org.apache.commons.codec.digest.DigestUtils.md5(s"$q:$d")
    if ((dig(0) & 0x80) == 0) 1.0 else -1.0
  }

  // Per-JVM memo of plane-component tables, keyed (planeOffset, nPlanes,
  // family) and grown on demand to the widest vector seen. The values are
  // pure functions of small integers — deterministic metadata shared by
  // every executor, NOT data derived from any input row — so memoizing
  // them is the same discipline as the parquet-schema memo. A racing
  // rebuild writes an identical table (benign).
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]()

  private def comps(planeOffset: Int, nPlanes: Int, dim: Int,
      md5: Boolean): Array[Array[Double]] = {
    val key = (planeOffset.toLong << 32) | (nPlanes.toLong << 1) | (if (md5) 1L else 0L)
    var t = tables.get(key)
    if (t == null || t(0).length < dim) {
      t = Array.tabulate(nPlanes, dim) { (p, d) =>
        if (md5) md5Sign(planeOffset + p, d.toLong)
        else xxComponent(planeOffset + p, d.toLong)
      }
      tables.put(key, t)
    }
    t
  }

  /** The per-row kernel. Java-callable from generated code. */
  // noinspection ScalaWeakerAccess (called from generated Java)
  def bucket(v: ArrayData, nPlanes: Int, planeOffset: Int,
      elemIsDouble: Boolean, md5: Boolean): Long = {
    val n = v.numElements()
    if (n == 0) return 0L // zip_with pads against sequence(0,-1): null fold
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return 0L // null product poisons every plane's fold
      xs(i) = if (elemIsDouble) v.getDouble(i) else v.getFloat(i).toDouble
      i += 1
    }
    val t = comps(planeOffset, nPlanes, n, md5)
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      val c = t(p)
      var proj = 0.0
      var d = 0
      while (d < n) { proj += xs(d) * c(d); d += 1 }
      // Spark total-order >=: NaN sorts above everything, so NaN sets the bit
      if (proj >= 0.0 || java.lang.Double.isNaN(proj)) bits |= 1L << p
      p += 1
    }
    bits
  }
}
