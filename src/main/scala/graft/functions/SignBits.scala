package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression packing the strict-positive sign bits of
  * a float/double array into 32-bit words (`array<long>`, low word
  * first, bit `i mod 32` of word `i / 32` set iff `vec[i] > 0`).
  *
  * Replaces the higher-order-function formulation
  * (kept as the differential reference in BinaryAnnSpec): Spark HOFs are interpreted AND eject the
  * enclosing stage from whole-stage codegen, so the binary-quantization
  * scan — the one pass that touches every raw vector — paid lambda
  * dispatch per element plus the stage-wide codegen loss. Here it is
  * one fused primitive loop on a referenced expression object.
  *
  * Corner semantics (bit-identical to the HOF form, BinaryAnnSpec):
  * a NULL element is not `> 0` -> bit clear; empty array -> empty
  * words; null array -> null. 32 bits per word — never a long's sign
  * bit — so packed words survive any engine's signed arithmetic.
  */
case class SignBits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "sign_bits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"sign_bits requires array<float> or array<double>, got ${other.catalogString}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    packOf(input.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  private[graft] def packOf(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val words = new Array[Long]((n + 31) / 32)
    var j = 0
    while (j < n) {
      val positive = !arr.isNullAt(j) &&
        (if (isFloat) arr.getFloat(j) > 0f else arr.getDouble(j) > 0d)
      if (positive) words(j >> 5) |= 1L << (j & 31)
      j += 1
    }
    new GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("signBitsExpr", this, classOf[SignBits].getName)
    defineCodeGen(ctx, ev, c => s"$self.packOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}

/** Native Hamming distance between two packed sign-bit arrays
  * (popcount of the per-word XOR, summed): the candidate-scan kernel
  * of [[graft.operators.BinaryAnn.topK]] — pure integer ops, fused in
  * whole-stage codegen via the referenced-object pattern. Word counts
  * must match (same packing geometry); fails loud otherwise.
  */
case class HammingWords(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "hamming_words"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"hamming_words requires two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    hammingOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  private[graft] def hammingOf(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"hamming_words: mismatched word counts ${n} vs ${b.numElements()}")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hammingExpr", this, classOf[HammingWords].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.hammingOf($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingWords =
    copy(left = newLeft, right = newRight)
}
