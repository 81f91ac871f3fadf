package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native character-shingle expression — the codegen'd windowing half
  * of [[TextFunctions.charShingles]] (canonicalization stays a stock
  * `regexp_replace` column; this expression turns the canonical string
  * into its n-char windows). Replaces a `transform(sequence, substr)`
  * HOF with one UTF8String pass per row; character semantics are
  * `substringSQL`'s (code points), identical to the HOF's `substr`.
  *
  * Exact mimicry (differential-spec'd): inputs shorter than `n`
  * (including empty) yield the whole string as one shingle; a null
  * input is null (what the HOF's null-propagating `when` produced).
  */
case class CharShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"char_shingles requires string, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    shinglesOf(input.asInstanceOf[UTF8String])

  /** public: called from generated code via an expression reference */
  private[graft] def shinglesOf(s: UTF8String): GenericArrayData = {
    val len = s.numChars()
    if (len < n) return new GenericArrayData(Array[Any](s))
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      out(i) = s.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("charShinglesExpr", this, classOf[CharShinglesExpr].getName)
    defineCodeGen(ctx, ev, c => s"$self.shinglesOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CharShinglesExpr =
    copy(child = newChild)
}
