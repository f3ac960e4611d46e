package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/**
 * Native Catalyst expression: the exact set Jaccard of two ascending
 * `array<bigint>`s, |A∩B| / |A∪B| over their distinct values.
 *
 * The same double division as `size(array_intersect(a, b)) /
 * size(array_union(a, b))`, so every score is bit-identical — a repeated
 * value counts once and a null element counts as one value, as in those
 * functions — but computed by one merge of the two sorted arrays instead
 * of two hash sets and two result arrays per pair. Two empty sets score
 * 0/0 = NaN (the declarative form's division aborts there under ANSI).
 * The exact verify of the near-dup family runs this once per candidate.
 */
case class JaccardSim(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_jaccard requires array<bigint> inputs, got (${l.catalogString}, ${r.catalogString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSim.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.plans.JaccardSim.score($x, $y)")
}

object JaccardSim {

  /** |A∩B| / |A∪B| of two ascending arrays, nulls anywhere. Throws if
    * either array's non-null values descend: a score over unsorted input
    * would be wrong, not slow. */
  def score(a: ArrayData, b: ArrayData): Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = skipNulls(a, 0, na)
    var j = skipNulls(b, 0, nb)
    var da = 0; var db = 0; var shared = 0
    while (i < na || j < nb) {
      val c = if (i == na) 1 else if (j == nb) -1 else java.lang.Long.compare(a.getLong(i), b.getLong(j))
      if (c <= 0) { da += 1; i = nextValue(a, i, na) }
      if (c >= 0) { db += 1; j = nextValue(b, j, nb) }
      if (c == 0) shared += 1
    }
    val (nullA, nullB) = (hasNull(a, na), hasNull(b, nb))
    if (nullA) da += 1
    if (nullB) db += 1
    if (nullA && nullB) shared += 1
    shared.toDouble / (da + db - shared).toDouble
  }

  /** The index of the first non-null value of `arr` above `arr(i)`, or `n`. */
  private def nextValue(arr: ArrayData, i: Int, n: Int): Int = {
    val v = arr.getLong(i)
    var k = skipNulls(arr, i + 1, n)
    while (k < n && arr.getLong(k) == v) k = skipNulls(arr, k + 1, n)
    if (k < n && arr.getLong(k) < v)
      throw new IllegalArgumentException(s"graft_jaccard: input is not ascending (${arr.getLong(k)} after $v)")
    k
  }

  private def skipNulls(arr: ArrayData, from: Int, n: Int): Int = {
    var k = from
    while (k < n && arr.isNullAt(k)) k += 1
    k
  }

  private def hasNull(arr: ArrayData, n: Int): Boolean = {
    var k = 0
    while (k < n && !arr.isNullAt(k)) k += 1
    k < n
  }
}
