package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression computing the winnowing window sweep
  * over an `array<long>` of gram hashes: the minimum of every `w`
  * consecutive elements — with the short-input rule that an array
  * shorter than one window yields the single minimum of what it has.
  * Exactly the semantics of the HOF sweep it replaced (the
  * differential reference in NativeHashTwinsSpec):
  *
  *   when(size(h) < w, array(array_min(h)))
  *     .otherwise(transform(sequence(1, size(h)-w+1),
  *                          i => array_min(slice(h, i, w))))
  *
  * The HOF form is interpreted O(L·w) with a fresh w-element slice per
  * window; this is the textbook O(L) monotonic-deque sweep on
  * primitives. Null handling mirrors `array_min` (nulls are skipped;
  * a window of only nulls — or an empty array — yields a null
  * element), and a null input array yields null.
  */
case class WindowMinima(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "w must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "window_minima"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"window_minima requires array<long>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    minimaOf(input.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  private[graft] def minimaOf(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < w) {
      // short input: one element, the array_min of everything
      var best = Long.MaxValue
      var any = false
      var j = 0
      while (j < n) {
        if (!arr.isNullAt(j)) {
          val v = arr.getLong(j)
          if (!any || v < best) { best = v; any = true }
        }
        j += 1
      }
      return new GenericArrayData(Array[Any](if (any) best else null))
    }
    val out = new Array[Any](n - w + 1)
    // monotonic deque of indices into arr (values increasing from the
    // head); null elements simply never enter it
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val v = arr.getLong(j)
        while (tail > head && arr.getLong(dq(tail - 1)) >= v) tail -= 1
        dq(tail) = j
        tail += 1
      }
      val start = j - w + 1
      if (start >= 0) {
        while (tail > head && dq(head) < start) head += 1
        out(start) = if (tail > head) arr.getLong(dq(head)) else null
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("windowMinExpr", this, classOf[WindowMinima].getName)
    defineCodeGen(ctx, ev, c => s"$self.minimaOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): WindowMinima =
    copy(child = newChild)
}
