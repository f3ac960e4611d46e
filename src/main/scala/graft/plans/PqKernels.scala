package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the product-quantization hot path
 * ([[graft.ops.Pq]]): PQ encode (per-subspace argmin against the packed
 * codebooks) and ADC distance (per-row lookup-table sum).
 *
 * Why: the Column formulations are nested `transform`/`array_min`/
 * `aggregate` lambda trees — all CodegenFallback. Encode evaluates
 * m×ksub interpreted squared-L2 folds PER ROW (at the scale operating
 * point m=16, ksub=64 that is 1024 interpreted folds with two array
 * allocations each, measured 51 s for the 64× corpus where the whole
 * LSH-ANN path takes 0.75 s). These kernels run the same arithmetic as
 * fused loops; the Column originals are kept in PqKernelParitySpec as
 * `encodeRef`/`adcDistRef`, the executable spec its differential tests
 * pin against, and the q231 DuckDB oracle re-verifies the composed search
 * bit-for-bit.
 *
 * Bit-exactness contract (replicated from the lambda semantics, ANSI on):
 *
 * `graft_pq_encode(vec, cbs)` with cbs = array per subspace of (cid-
 * ordered) codebook vectors:
 *   - output element j = argmin over c of squared-L2(sub_j, cbs[j][c]),
 *     left fold in dimension order accumulated in double, tie → smaller
 *     c, as a byte;
 *   - a NULL distance (null/short/ragged subvector or codebook vector,
 *     null element anywhere in the window) sorts FIRST — exactly the
 *     nulls-first struct ordering `array_min` applies — so a null/ragged
 *     input vector yields code 0 per subspace, and a null cbs[j][c]
 *     entry wins the argmin for its subspace;
 *   - NaN distances sort AFTER all real distances (Spark total order);
 *   - sub_j = the 1-based slice [j·ds+1, ds] of vec where ds =
 *     len(cbs[j][0]) — clipped, never padded, so a too-short vec gives a
 *     shorter sub_j whose fold against a ds-length codebook vector is
 *     NULL (zip_with pads with null);
 *   - null cbs → null; null cbs[j] → null code element; empty cbs[j] →
 *     error (ANSI `element_at(cbj, 1)`); argmin cid > 127 → overflow
 *     error (ANSI int→byte cast).
 *
 * `graft_pq_adc(codes, lut)`:
 *   - Σ_j lut[j][codes[j]+1] (1-based `element_at` with ANSI bounds:
 *     index 0 errors, negative indexes count from the end, out-of-range
 *     errors), null codes/lut/element → NULL (the fold's sticky null).
 */
case class PqEncodeKernel(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _),
          ArrayType(ArrayType(ArrayType(FloatType | DoubleType, _), _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode requires (array<float|double>, array<array<array<float|double>>>), " +
        s"got (${l.catalogString}, ${r.catalogString})")
  }

  @transient private lazy val vecIsDouble = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  @transient private lazy val cbIsDouble = right.dataType match {
    case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(ByteType, containsNull = true)
  // null only when cbs is null; a NULL VECTOR still yields all-zero codes
  // (every distance folds to null, nulls-first argmin picks cid 0) — so
  // the expression cannot delegate to default null-intolerant eval
  override def nullable: Boolean = right.nullable

  override def prettyName: String = "graft_pq_encode"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqEncodeKernel = copy(left = newLeft, right = newRight)

  override def eval(input: InternalRow): Any = {
    val cbs = right.eval(input)
    if (cbs == null) return null
    val vec = left.eval(input)
    PqEncodeKernel.encode(
      if (vec == null) null else vec.asInstanceOf[ArrayData],
      cbs.asInstanceOf[ArrayData], vecIsDouble, cbIsDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val mod = "graft.plans.PqEncodeKernel"
    ev.copy(code = code"""
      ${leftGen.code}
      ${rightGen.code}
      boolean ${ev.isNull} = ${rightGen.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $mod.encode(
          ${leftGen.isNull} ? null : ${leftGen.value},
          ${rightGen.value}, $vecIsDouble, $cbIsDouble);
      }
    """)
  }
}

object PqEncodeKernel {

  /** Java-callable from generated code. `vec` may be null (cbs may not). */
  // noinspection ScalaWeakerAccess (called from generated Java)
  def encode(vec: ArrayData, cbs: ArrayData, vecIsDouble: Boolean,
      cbIsDouble: Boolean): ArrayData = {
    val m = cbs.numElements()
    val codes = new Array[Any](m)
    val vLen = if (vec == null) -1 else vec.numElements()
    var j = 0
    while (j < m) {
      if (cbs.isNullAt(j)) {
        codes(j) = null // transform's lambda over a null cbj folds to null
      } else {
        val cbj = cbs.getArray(j)
        val nC = cbj.numElements()
        if (nC == 0) throw new ArrayIndexOutOfBoundsException(
          s"graft_pq_encode: empty codebook for subspace $j (element_at(cbj, 1))")
        // ds from the FIRST codebook vector; a null first vector nulls the
        // slice bounds, so every distance in this subspace is null
        val dsNull = cbj.isNullAt(0)
        val ds = if (dsNull) -1 else cbj.getArray(0).numElements()
        val start = j * ds
        val subLen =
          if (dsNull || vec == null) -1 // null sub: every fold is null
          else if (start >= vLen) 0
          else math.min(vLen - start, ds)
        var bestC = -1
        var bestD = 0.0
        var bestNull = false
        var c = 0
        while (c < nC) {
          var dNull = false
          var d = 0.0
          if (subLen < 0 || cbj.isNullAt(c)) dNull = true
          else {
            val cvec = cbj.getArray(c)
            if (cvec.numElements() != subLen) dNull = true // zip_with pads -> null
            else {
              var k = 0
              while (k < subLen && !dNull) {
                if (vec.isNullAt(start + k) || cvec.isNullAt(k)) dNull = true
                else {
                  val x = if (vecIsDouble) vec.getDouble(start + k)
                          else vec.getFloat(start + k).toDouble
                  val y = if (cbIsDouble) cvec.getDouble(k)
                          else cvec.getFloat(k).toDouble
                  val diff = x - y
                  d += diff * diff
                }
                k += 1
              }
            }
          }
          // struct (d, c) ordering: null d FIRST, then total-order double
          // (NaN last; d >= 0 so no -0.0 ambiguity), tie keeps smaller c
          val better =
            if (bestC == -1) true
            else if (dNull) !bestNull
            else if (bestNull) false
            else java.lang.Double.compare(d, bestD) < 0
          if (better) { bestC = c; bestD = d; bestNull = dNull }
          c += 1
        }
        if (bestC > 127) throw new ArithmeticException(
          s"graft_pq_encode: code $bestC overflows byte (ANSI cast)")
        codes(j) = bestC.toByte
      }
      j += 1
    }
    new GenericArrayData(codes)
  }
}

/** ADC distance: Σ_j lut[j][codes[j]+1], `element_at` ANSI semantics.
  * Null codes/lut → null; null element/code/lut-row or ragged lengths →
  * null (the fold's sticky null through padded zip_with). */
case class PqAdcKernel(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ByteType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_adc requires (array<byte>, array<array<double>>), " +
        s"got (${l.catalogString}, ${r.catalogString})")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcKernel = copy(left = newLeft, right = newRight)

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any =
    PqAdcKernel.dist(codesAny.asInstanceOf[ArrayData], lutAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val mod = "graft.plans.PqAdcKernel"
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Double $boxed = $mod.dist($codes, $lut);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })
}

object PqAdcKernel {

  /** Java-callable from generated code. Returns null (boxed) for the
    * fold's sticky-null cases. */
  // noinspection ScalaWeakerAccess (called from generated Java)
  def dist(codes: ArrayData, lut: ArrayData): java.lang.Double = {
    val nCodes = codes.numElements()
    val nLut = lut.numElements()
    val n = math.max(nCodes, nLut) // zip_with length: shorter side pads null
    var acc = 0.0
    var i = 0
    while (i < n) {
      // padded or null code -> element_at(lutj, null) -> null -> sticky
      if (i >= nCodes || codes.isNullAt(i)) return null
      if (i >= nLut || lut.isNullAt(i)) return null // element_at(null, k) -> null
      val lutj = lut.getArray(i)
      val size = lutj.numElements()
      val idx = codes.getByte(i).toInt + 1 // 1-based element_at
      // ANSI element_at: index 0 errors; negative counts from the end;
      // out of range errors
      val eff =
        if (idx == 0) throw new ArrayIndexOutOfBoundsException(
          "graft_pq_adc: element_at index 0 (SQL arrays are 1-based)")
        else if (idx > 0) {
          if (idx > size) throw new ArrayIndexOutOfBoundsException(
            s"graft_pq_adc: element_at index $idx out of bounds for LUT of $size")
          idx - 1
        } else {
          if (-idx > size) throw new ArrayIndexOutOfBoundsException(
            s"graft_pq_adc: element_at index $idx out of bounds for LUT of $size")
          size + idx
        }
      if (lutj.isNullAt(eff)) return null // null partial -> sticky null fold
      acc += lutj.getDouble(eff)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
