package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native integer-dot cosine over int8-quantized vectors — one fused
  * primitive loop replacing the interpreted `zip_with`/`aggregate`
  * chain over [[VectorFunctions.intDot]] (kept as the differential
  * reference in QuantizedCosineSpec, which asserts bit identity).
  * The quantized prefilter scan is the 100 TB first stage of two-stage
  * retrieval (`ann_quantized_rerank`): it touches EVERY corpus vector,
  * so lambda dispatch per element three times over is exactly the
  * wrong place for interpretation.
  *
  * Numeric contract — element for element the HOF semantics: the
  * three sums (dot, both self-dots) are exact long arithmetic
  * (`Math.addExact`/`multiplyExact` — int8-range codes can never
  * overflow; out-of-contract magnitudes throw like ANSI long math
  * does in the HOF form), and the final `dot / (sqrt(na) * sqrt(nb))`
  * runs in IEEE doubles. A zero-norm side throws — Spark 4 ANSI
  * division by zero, exactly what the HOF formulation does.
  *
  * Null semantics (HOF-identical): null array -> null; mismatched
  * lengths or any null element -> null (zip_with's null padding
  * poisons the aggregate the same way).
  */
case class QuantizedCosine(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "quantized_cosine"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"quantized_cosine requires two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    cosineOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference.
    * Returns java.lang.Double (null for the poisoned cases).
    */
  def cosineOf(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getLong(i)
      val y = b.getLong(i)
      dot = Math.addExact(dot, Math.multiplyExact(x, y))
      na = Math.addExact(na, Math.multiplyExact(x, x))
      nb = Math.addExact(nb, Math.multiplyExact(y, y))
      i += 1
    }
    val denom = Math.sqrt(na.toDouble) * Math.sqrt(nb.toDouble)
    if (denom == 0.0) {
      // ANSI-faithful: the HOF formulation's Divide throws here
      throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] quantized_cosine: zero-norm vector")
    }
    dot.toDouble / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("quantizedCosineExpr", this, classOf[QuantizedCosine].getName)
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
      newLeft: Expression, newRight: Expression): QuantizedCosine =
    copy(left = newLeft, right = newRight)
}
