package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native decimal-exact weighted sum `Σ_j round14(vec[j] * w[j])` —
  * one fused loop replacing a d-term decimal expression chain. The
  * chained form (`(x_0*w_0).cast(dec) + ... + (x_63*w_63).cast(dec)`)
  * generates O(d) inline Java per output column; at k columns the
  * projection's `processNext()` crosses janino's 64 KB method limit
  * and the WHOLE stage silently falls back to interpretation — the
  * exact failure `embed_project`'s random projection hit (8 columns x
  * 64 terms). One referenced-object call per column keeps the stage
  * in whole-stage codegen at any (d, k).
  *
  * Numeric contract — term for term the chain's semantics: each
  * product is rounded to DECIMAL scale 14 the way Spark's
  * double->decimal cast rounds (shortest-string decimal of the
  * double, HALF_UP — the [[DecimalCosine]] rule); the sum is EXACT
  * (scale-14 unscaled longs while the sum's magnitude stays under
  * 2^63/10^14 ≈ 9.2e4, then an equally EXACT arbitrary-precision
  * BigDecimal fallback); the return value is the sum's double, i.e.
  * the chain's final `.cast("double")`. Bit identity with the chained
  * form therefore holds on BOTH paths — RandomProjectionSpec asserts
  * it in-range and across the fallback boundary — up to the chain's
  * own DECIMAL(38,14) capacity (|sum| < 10^24), beyond which the ANSI
  * chain raises NUMERIC_VALUE_OUT_OF_RANGE while this form still
  * returns the exact sum's double: past 10^24 this expression is
  * strictly MORE defined than its reference, never differently
  * valued.
  *
  * Null semantics (chain-identical): null array -> null; a null
  * element among the first `weights.length` -> null (element_at's
  * null poisons the chain the same way); an array SHORTER than the
  * weight vector throws — ANSI element_at's out-of-bounds error, the
  * FAILFAST contract for malformed fixed-dim vectors.
  */
case class DecimalWeightedSum(child: Expression, weights: Seq[Double])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "decimal_weighted_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"decimal_weighted_sum requires array<float|double>, got ${t.catalogString}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val w: Array[Double] = weights.toArray

  override def nullSafeEval(a: Any): Any =
    sumOf(a.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference.
    * Returns java.lang.Double (null for the poisoned cases).
    */
  private[graft] def sumOf(a: ArrayData): java.lang.Double = {
    val d = w.length
    if (a.numElements() < d) {
      // ANSI-faithful: the chained form's element_at throws here
      throw new ArrayIndexOutOfBoundsException(
        s"[INVALID_ARRAY_INDEX_IN_ELEMENT_AT] decimal_weighted_sum: " +
          s"vector has ${a.numElements()} elements, weights need $d")
    }
    var i = 0
    while (i < d) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    try {
      var sum = 0L
      i = 0
      while (i < d) {
        sum = Math.addExact(sum, scaled14(elem(a, i) * w(i)))
        i += 1
      }
      java.math.BigDecimal.valueOf(sum, 14).doubleValue()
    } catch {
      case _: ArithmeticException =>
        var sum = java.math.BigDecimal.ZERO
        i = 0
        while (i < d) {
          sum = sum.add(java.math.BigDecimal.valueOf(elem(a, i) * w(i))
            .setScale(14, java.math.RoundingMode.HALF_UP))
          i += 1
        }
        sum.doubleValue()
    }
  }

  private def elem(arr: ArrayData, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  private def scaled14(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(14, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("decimalWeightedSumExpr", this,
      classOf[DecimalWeightedSum].getName)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |java.lang.Double ${ev.value}_r = $self.sumOf($a);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DecimalWeightedSum =
    copy(child = newChild)
}
