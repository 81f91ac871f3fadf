package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram expression — the codegen'd replacement for the
  * interpreted `transform(sequence, i -> concat_ws(slice))` HOF chain
  * that used to sit in the hottest staging loop of every shingle-based
  * operator (minhash/span dedup, winnowing, diversity, DSIR). One
  * UTF8String pass per row, no per-gram slice allocation, and the
  * enclosing stage stays inside whole-stage codegen (HOFs both
  * interpret AND eject the stage — the repo's twice-learned lesson).
  *
  * Exact semantic mimicry of the HOF form, asserted by differential
  * spec (TextFunctionsSpec):
  *   - `len >= n`: the (len−n+1) space-joined windows;
  *   - `len < n` (including empty): ONE element joining all tokens;
  *   - null elements are skipped by the join (concat_ws semantics);
  *   - a NULL input array yields `[""]` (what `concat_ws` over a null
  *     array column produced) — the expression is never null.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"word_ngrams requires array<string>, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    gramsOf(child.eval(input).asInstanceOf[ArrayData])

  @transient private lazy val sep = UTF8String.fromString(" ")

  /** public: called from generated code via an expression reference */
  private[graft] def gramsOf(arr: ArrayData): ArrayData = {
    if (arr == null)
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val len = arr.numElements()
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    if (len < n)
      return new GenericArrayData(Array[Any](UTF8String.concatWs(sep, toks: _*)))
    val out = new Array[Any](len - n + 1)
    val window = new Array[UTF8String](n)
    i = 0
    while (i <= len - n) {
      var j = 0
      while (j < n) { window(j) = toks(i + j); j += 1 }
      out(i) = UTF8String.concatWs(sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Custom codegen (not defineCodeGen: the null-input case produces a
    * VALUE, so null propagation must not short-circuit).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordNgramsExpr", this, classOf[WordNgrams].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $self.gramsOf(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}
