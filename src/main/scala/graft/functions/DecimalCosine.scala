package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native decimal-accumulated cosine similarity — one fused loop
  * replacing the interpreted `zip_with`/`aggregate` chain of
  * over [[VectorFunctions.dotDecimal]] (kept as the differential
  * reference in DecimalCosineSpec, which asserts bit identity). HOFs are
  * interpreted AND eject the enclosing stage from whole-stage codegen,
  * so every exact-cosine scan (kNN graphs, MMR rounds, SemDeDup
  * verification, ANN ground truth) paid lambda dispatch per element
  * three times over; this is one primitive loop on a referenced
  * expression object.
  *
  * Numeric contract — element for element the HOF semantics:
  * each double product is rounded to DECIMAL scale 14 exactly the way
  * Spark's double->decimal cast does it (`BigDecimal.valueOf`, i.e.
  * the shortest-string decimal of the double, then HALF_UP at scale
  * 14); the three sums are EXACT (scale-14 unscaled longs, overflow
  * checked, BigDecimal fallback); the final
  * `dot / (sqrt(na) * sqrt(nb))` runs in IEEE doubles. The result is
  * a pure function of the element values, independent of partitioning
  * and accumulation order, and identical to what a SQL oracle
  * computing the same decimal formulation produces.
  *
  * Null semantics (HOF-identical): null array -> null; mismatched
  * lengths or any null element -> null (zip_with's null padding
  * poisons the HOF sum the same way); a zero-norm side (empty array,
  * all-zero vector) throws — Spark 4 ANSI division by zero, exactly
  * what the HOF formulation does.
  */
case class DecimalCosine(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "decimal_cosine"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"decimal_cosine requires two array<float|double>, got ${l.catalogString}, ${r.catalogString}")
  }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    cosineOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference.
    * Returns java.lang.Double (null for the poisoned cases).
    */
  def cosineOf(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    val sums =
      try sumsLong(a, b)
      catch { case _: ArithmeticException => sumsBig(a, b) }
    val denom = Math.sqrt(sums._2) * Math.sqrt(sums._3)
    if (denom == 0.0) {
      // ANSI-faithful: the HOF formulation's double Divide throws here
      throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] decimal_cosine: zero-norm vector")
    }
    sums._1 / denom
  }

  private def elem(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Scale-14 unscaled long of a double, rounded the way Spark's
    * double->decimal cast rounds (shortest-string decimal, HALF_UP).
    */
  private def scaled14(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(14, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Fast path: exact sums as scale-14 unscaled longs; addExact throws
    * to the BigDecimal path on (astronomically unlikely) overflow.
    * Returns (dot, na, nb) as the doubles of the exact decimal sums.
    */
  private def sumsLong(a: ArrayData, b: ArrayData): (Double, Double, Double) = {
    val n = a.numElements()
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = elem(a, leftIsFloat, i)
      val y = elem(b, rightIsFloat, i)
      dot = Math.addExact(dot, scaled14(x * y))
      na = Math.addExact(na, scaled14(x * x))
      nb = Math.addExact(nb, scaled14(y * y))
      i += 1
    }
    (java.math.BigDecimal.valueOf(dot, 14).doubleValue(),
      java.math.BigDecimal.valueOf(na, 14).doubleValue(),
      java.math.BigDecimal.valueOf(nb, 14).doubleValue())
  }

  /** Exact fallback with BigDecimal accumulators (same rounding per
    * element, so same result whenever both paths complete).
    */
  private def sumsBig(a: ArrayData, b: ArrayData): (Double, Double, Double) = {
    val n = a.numElements()
    var dot = java.math.BigDecimal.ZERO
    var na = java.math.BigDecimal.ZERO
    var nb = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val x = elem(a, leftIsFloat, i)
      val y = elem(b, rightIsFloat, i)
      dot = dot.add(java.math.BigDecimal.valueOf(x * y)
        .setScale(14, java.math.RoundingMode.HALF_UP))
      na = na.add(java.math.BigDecimal.valueOf(x * x)
        .setScale(14, java.math.RoundingMode.HALF_UP))
      nb = nb.add(java.math.BigDecimal.valueOf(y * y)
        .setScale(14, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    (dot.doubleValue(), na.doubleValue(), nb.doubleValue())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("decimalCosineExpr", this, classOf[DecimalCosine].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r = $self.cosineOf($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalCosine =
    copy(left = newLeft, right = newRight)
}
