package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Native Z-order (Morton) key: interleaves the high bits of N numeric
  * columns into one long, so a single `ORDER BY` clusters rows along
  * ALL N dimensions at once.
  *
  * Why: a plain multi-column sort clusters on its one leading column —
  * parquet row-group min/max stats then prune scans on THAT column
  * only; a filter on the second sort column reads everything. Sorting
  * by the interleaved key gives every listed column row-group locality
  * (each loses ~1/N of its bit precision, the classic Z-order trade),
  * which is what a 100 TB table wants when queries filter on more than
  * one dimension. Same mechanism as Delta/Iceberg OPTIMIZE ZORDER BY,
  * as a plain Catalyst expression.
  *
  * Per-type monotone mapping to unsigned 64-bit space (order-preserving,
  * so interleaving top bits preserves per-dimension order):
  *   - integral/date/timestamp: widen to long, flip the sign bit;
  *   - float/double: IEEE trick — negative patterns bit-inverted,
  *     positives get the sign bit set (total order, NaN sorts last);
  *   - null: smallest (maps to unsigned 0) — a total sort key must
  *     place nulls deterministically.
  * Each of the N inputs contributes its top floor(64/N) bits,
  * interleaved round-robin MSB-first.
  */
case class InterleaveBits(children: Seq[Expression]) extends Expression {
  require(children.nonEmpty && children.size <= 8, "interleave_bits takes 1-8 columns")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "interleave_bits"

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.map(_.dataType).filterNot {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
          FloatType | DoubleType => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"interleave_bits requires numeric/date/timestamp columns, got ${bad.map(_.catalogString).mkString(", ")}")
  }

  private def monotone(v: Any, dt: DataType): Long = v match {
    case null => 0L
    case _ => dt match {
      case ByteType => (v.asInstanceOf[Byte].toLong) ^ Long.MinValue
      case ShortType => (v.asInstanceOf[Short].toLong) ^ Long.MinValue
      case IntegerType | DateType => (v.asInstanceOf[Int].toLong) ^ Long.MinValue
      case LongType | TimestampType => v.asInstanceOf[Long] ^ Long.MinValue
      case FloatType => monotoneDouble(v.asInstanceOf[Float].toDouble)
      case DoubleType => monotoneDouble(v.asInstanceOf[Double])
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
  }

  /** public: called from generated code via an expression reference */
  private[graft] def monotoneDouble(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    if (bits < 0) ~bits else bits | Long.MinValue
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val n = children.size
    val bitsPer = 64 / n
    val us = new Array[Long](n)
    var c = 0
    while (c < n) { us(c) = monotone(children(c).eval(input), children(c).dataType); c += 1 }
    var out = 0L
    var outPos = 63
    var b = 0
    while (b < bitsPer) {
      c = 0
      while (c < n && outPos >= 0) {
        val bit = (us(c) >>> (63 - b)) & 1L
        out |= bit << outPos
        outPos -= 1
        c += 1
      }
      b += 1
    }
    out
  }

  /** Real whole-stage codegen (not CodegenFallback): the monotone
    * mapping is inlined per child AT CODEGEN TIME (types are static)
    * and the interleave loop unrolls the per-child body, so a z-ordered
    * write's sort key stays inside the same generated function as the
    * merge projection feeding it — no interpreted boundary per row.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = children.size
    val bitsPer = 64 / n
    val self = ctx.addReferenceObj("interleaveExpr", this, classOf[InterleaveBits].getName)
    val evals = children.map(_.genCode(ctx))
    val us = children.indices.map(i => ctx.freshName(s"zu$i"))
    val mapped = children.zipWithIndex.map { case (c, i) =>
      val v = evals(i).value
      val expr = c.dataType match {
        case ByteType | ShortType | IntegerType | DateType =>
          s"(((long) $v) ^ java.lang.Long.MIN_VALUE)"
        case LongType | TimestampType => s"($v ^ java.lang.Long.MIN_VALUE)"
        case FloatType => s"$self.monotoneDouble((double) $v)"
        case DoubleType => s"$self.monotoneDouble($v)"
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      s"long ${us(i)} = ${evals(i).isNull} ? 0L : $expr;"
    }
    val b = ctx.freshName("zb")
    val pos = ctx.freshName("zpos")
    val acc = ctx.freshName("zacc")
    val perChild = us.map(u => s"$acc |= (($u >>> (63 - $b)) & 1L) << $pos; $pos--;").mkString("\n")
    ev.copy(
      isNull = FalseLiteral,
      code = code"""
        ${evals.map(_.code).mkString("\n")}
        ${mapped.mkString("\n")}
        long $acc = 0L;
        int $pos = 63;
        for (int $b = 0; $b < $bitsPer; $b++) {
          $perChild
        }
        final long ${ev.value} = $acc;
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InterleaveBits = copy(children = newChildren)
}
