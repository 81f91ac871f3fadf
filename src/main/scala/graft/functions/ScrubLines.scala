package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row line scrub against a constant line set: splits the input on
  * `sep` (regex, trailing empties kept — Spark `split` semantics),
  * drops every line in `lines`, rejoins the survivors, and returns
  * `struct(text, removed_lines, kept_lines)`.
  *
  * The STATELESS serving half of [[graft.operators.LineDedup]]: the
  * frequent-line list is computed once from a historical corpus
  * (bounded — boilerplate is the high-frequency tail) and ships in the
  * task closure, so scrubbing is a pure projection — streaming-legal
  * in append mode with no state store, no stream-static join, no
  * per-document re-aggregation. The set is materialized once per
  * executor (transient lazy), not per row; codegen via the
  * referenced-object pattern.
  */
case class ScrubLines(child: Expression, lines: Seq[String], sep: String)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("removed_lines", LongType, nullable = false),
    StructField("kept_lines", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "scrub_lines"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"scrub_lines requires a string input, got ${other.catalogString}")
  }

  @transient private lazy val lineSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](lines.size * 2)
    lines.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    scrubOf(input.asInstanceOf[UTF8String])

  /** public: called from generated code via an expression reference */
  private[graft] def scrubOf(text: UTF8String): InternalRow = {
    // -1 limit: Spark's split keeps trailing empty lines; Java's
    // default 0 would silently drop them
    val parts = text.toString.split(sep, -1)
    val kept = new scala.collection.mutable.ArrayBuffer[String](parts.length)
    var removed = 0L
    var i = 0
    while (i < parts.length) {
      if (lineSet.contains(parts(i))) removed += 1L
      else kept += parts(i)
      i += 1
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    // rejoin with `sep` itself (same convention as the batch
    // reconstruction's concat_ws: sep must be literal-compatible)
    row.update(0, UTF8String.fromString(kept.mkString(sep)))
    row.update(1, removed)
    row.update(2, kept.length.toLong)
    row
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("scrubLinesExpr", this, classOf[ScrubLines].getName)
    defineCodeGen(ctx, ev, c => s"$self.scrubOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ScrubLines =
    copy(child = newChild)
}

object ScrubLines {
  /** Compile-time guard mirror of [[graft.operators.LineDedup
    * .frequentLines]]'s bound: the set rides every task closure.
    */
  val MaxLines = 200000
}
