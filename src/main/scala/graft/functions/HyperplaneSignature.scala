package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression computing the random-hyperplane (cosine
  * LSH) signature of a vector: bit i is the sign of the projection onto
  * pseudo-random hyperplane i.
  *
  * Replaces the higher-order-function formulation (the differential
  * reference in HyperplaneSignatureSpec): HOFs are interpreted
  * per element, so the O(bits x dims) loop paid lambda dispatch AND
  * re-derived every hyperplane component with `xxhash64` per row. Here
  * the component matrix for a given dimensionality is computed once per
  * task and cached, leaving ~bits x dims fused multiply-adds per row —
  * the form a 100 TB embedding scan needs. Bit-for-bit identical to the
  * HOF formulation (same xxhash64-derived components, same null/NaN
  * semantics), asserted by HyperplaneSignatureSpec.
  *
  * Semantics (matching the HOF form exactly):
  *   - component(i, j) = pmod(xxhash64(i, j, seed), 1000003) / 500001.5 - 1
  *     with xxhash64 over three int columns, Spark's default seed 42;
  *   - a null element nullifies that bit's projection -> bit 0;
  *   - an empty vector yields signature 0;
  *   - a NaN projection sets the bit (SQL ordering: NaN >= 0).
  *
  * One deliberate divergence: a null INPUT yields null (standard
  * expression null propagation); the HOF form degenerated to 0L there,
  * colliding null vectors with empty ones in the signature space.
  */
case class HyperplaneSignature(child: Expression, bits: Int, seed: Int)
    extends UnaryExpression {
  require(bits > 0 && bits < 64, "bits must be in [1, 63]")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "hyperplane_signature"

  private lazy val elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"hyperplane_signature requires array<float|double|int|long>, got ${other.catalogString}")
  }

  /** Per-task cache of the bits x dims component matrix (row-major:
    * plane i at [i*dims, (i+1)*dims)). Embedding columns have one fixed
    * dimensionality in practice, so this holds a single entry.
    */
  @transient private lazy val planeCache =
    scala.collection.mutable.HashMap.empty[Int, Array[Double]]

  private def planes(dims: Int): Array[Double] =
    planeCache.getOrElseUpdate(dims, {
      val m = new Array[Double](bits * dims)
      var i = 0
      while (i < bits) {
        var j = 0
        while (j < dims) {
          // xxhash64(i, j, seed): ints folded left-to-right from seed 42
          var h = XXH64.hashInt(i, 42L)
          h = XXH64.hashInt(j, h)
          h = XXH64.hashInt(seed, h)
          val mod = 1000003L
          val pm = ((h % mod) + mod) % mod
          m(i * dims + j) = pm.toDouble / 500001.5 - 1.0
          j += 1
        }
        i += 1
      }
      m
    })

  override def nullSafeEval(input: Any): Any =
    signatureOf(input.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  def signatureOf(arr: ArrayData): Long = {
    val dims = arr.numElements()
    if (dims == 0) return 0L
    val p = planes(dims)
    val vec = new Array[Double](dims)
    var anyNull = false
    var j = 0
    while (j < dims && !anyNull) {
      if (arr.isNullAt(j)) anyNull = true
      else
        vec(j) = elementType match {
          case FloatType => arr.getFloat(j).toDouble
          case DoubleType => arr.getDouble(j)
          case IntegerType => arr.getInt(j).toDouble
          case LongType => arr.getLong(j).toDouble
        }
      j += 1
    }
    if (anyNull) return 0L // null element -> every projection null -> no bit set
    var sig = 0L
    var i = 0
    while (i < bits) {
      var proj = 0.0
      val base = i * dims
      var k = 0
      while (k < dims) {
        proj += vec(k) * p(base + k)
        k += 1
      }
      if (proj >= 0 || java.lang.Double.isNaN(proj)) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** Real whole-stage codegen (not CodegenFallback — the fallback trait
    * ejects the ENTIRE enclosing stage from whole-stage codegen, a
    * constant factor on exactly the hottest per-row loop of the ANN
    * scan). The projection loop stays one JVM method on a referenced
    * expression object — identical bytecode to the interpreted path,
    * per-task plane cache included — while the surrounding stage stays
    * fused in generated code.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("hyperplaneExpr", this, classOf[HyperplaneSignature].getName)
    defineCodeGen(ctx, ev, c => s"$self.signatureOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignature =
    copy(child = newChild)
}
