package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression counting how many elements of a string
  * array belong to a STATIC needle set — the streaming decontamination
  * probe. Replaces `size(array_intersect(gs, typedlit(needles)))`,
  * which embeds the needle array as a plan literal and rebuilds its
  * hash set on EVERY row (per-row cost O(|needles|), plus a
  * needle-sized literal in every serialized plan). Here the set is
  * hashed once per expression instance per executor (@transient lazy),
  * the needles ship once in the task closure, and per-row work is one
  * O(1) lookup per array element.
  *
  * Semantics match the `array_intersect` form on a DISTINCT input
  * array: each distinct element present in the set counts once; null
  * elements never count.
  */
case class ArrayHitCount(child: Expression, needles: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "array_hit_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"array_hit_count requires array<string>, got ${other.catalogString}")
  }

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(16, needles.size * 2))
    needles.foreach(n => s.add(UTF8String.fromString(n)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    hitsOf(input.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  private[graft] def hitsOf(arr: ArrayData): Long = {
    val n = arr.numElements()
    var hits = 0L
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j) && set.contains(arr.getUTF8String(j))) hits += 1L
      j += 1
    }
    hits
  }

  /** Real whole-stage codegen — same referenced-object pattern as the
    * other hot-loop expressions; the probe loop stays fused in the
    * enclosing generated stage.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("arrayHitExpr", this, classOf[ArrayHitCount].getName)
    defineCodeGen(ctx, ev, c => s"$self.hitsOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayHitCount =
    copy(child = newChild)
}
