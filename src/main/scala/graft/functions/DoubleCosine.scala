package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native IEEE-double cosine similarity — one fused primitive loop
  * replacing the interpreted `zip_with`/`aggregate` composition of
  * `dot(a, b) / (l2Norm(a) * l2Norm(b))` (kept as the differential
  * reference in DoubleCosineSpec, which asserts bit identity). The HOF form also
  * re-traverses both arrays THREE times (dot plus two norms); this is
  * one pass. Backs every brute-force cosine scan and the IVF
  * assignment loop — the hot inner product of the similarity-search
  * family.
  *
  * Numeric contract — element for element the HOF semantics: floats
  * widen exactly to double, products accumulate sequentially in
  * element order (bit-identical to the aggregate fold), the result is
  * `dot / (sqrt(na) * sqrt(nb))` in IEEE doubles. A zero-norm side
  * throws — Spark 4 ANSI division by zero, exactly what the HOF
  * formulation's Divide does.
  *
  * Null semantics (HOF-identical): null array -> null; mismatched
  * lengths or any null element -> null (zip_with's null padding
  * poisons the aggregate the same way).
  */
case class DoubleCosine(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "double_cosine"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"double_cosine requires two array<float|double>, got ${l.catalogString}, ${r.catalogString}")
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
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = Math.sqrt(na) * Math.sqrt(nb)
    if (denom == 0.0) {
      // ANSI-faithful: the HOF formulation's Divide throws here
      throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] double_cosine: zero-norm vector")
    }
    dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("doubleCosineExpr", this, classOf[DoubleCosine].getName)
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
      newLeft: Expression, newRight: Expression): DoubleCosine =
    copy(left = newLeft, right = newRight)
}
