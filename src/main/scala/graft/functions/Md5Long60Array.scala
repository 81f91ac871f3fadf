package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression mapping an `array<string>` to the
  * portable 60-bit md5 hash of each element:
  *
  *   `conv(substring(md5(x), 1, 15), 16, 10)  cast long`
  *
  * — i.e. the first 15 lowercase-hex nibbles of the md5 digest read as
  * an unsigned integer, which is exactly the TOP 60 BITS of the first
  * 8 digest bytes (big-endian, shifted right 4). The value is always
  * in [0, 2^60), so it fits a signed BIGINT in every engine — that is
  * the scheme [[graft.operators.TextDedup.PortableMd5Simhash]] and
  * [[graft.operators.Winnow.PortableMd5Hash]] replay in DuckDB SQL.
  *
  * Replaces the interpreted `transform(arr, g => conv(substring(
  * md5(g), 1, 15), 16, 10))` chain: per element that paid lambda
  * dispatch, a 32-char hex string, a 15-char substring, and a
  * string-to-decimal-string-to-long conversion; here it is one
  * ThreadLocal MessageDigest and integer shifts. Null elements stay
  * null (md5(null) -> null), null input -> null — asserted
  * differentially by NativeHashTwinsSpec.
  */
case class Md5Long60Array(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "md5_long60_array"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"md5_long60_array requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    hashAll(input.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  private[graft] def hashAll(arr: ArrayData): ArrayData = {
    val md = Md5Long60Array.digest.get()
    val n = arr.numElements()
    val out = new Array[Any](n)
    val buf = new Array[Byte](16)
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) out(j) = null
      else {
        md.reset()
        md.update(arr.getUTF8String(j).getBytes)
        md.digest(buf, 0, 16)
        // first 8 bytes as unsigned big-endian, top 60 bits
        var v = 0L
        var i = 0
        while (i < 8) { v = (v << 8) | (buf(i) & 0xffL); i += 1 }
        out(j) = v >>> 4
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("md5Long60Expr", this, classOf[Md5Long60Array].getName)
    defineCodeGen(ctx, ev, c => s"$self.hashAll($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Long60Array =
    copy(child = newChild)
}

object Md5Long60Array {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
