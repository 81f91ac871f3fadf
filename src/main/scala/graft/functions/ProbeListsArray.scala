package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native per-row IVF probe-list selection: the indexes of the
  * `nprobe` centroids with the highest [[DoubleCosine]]-computed
  * cosine vs the row's vector, ties to the lower index — the native
  * twin of the interpreted `zip_with` + `array_sort` + `slice`
  * composition (the differential reference in ProbeListsNativeSpec)
  * that [[graft.operators.IvfAnn.probeListsCol]] replaced, which paid
  * O(nlist) interpreted lambda dispatch and a k-struct sort per row.
  * With `nlist` sized to the corpus (n/2000), that made probe
  * selection O(queries·nlist·d) = O(n²·d/100000) — the r18 sf16
  * superlinear term in `knn_classify_ann`'s WARM path.
  *
  * Exactness contract — the emitted list is IDENTICAL to the HOF
  * composition's:
  *
  *   - per-centroid cosines are computed by the byte-for-byte
  *     [[DoubleCosine]] recipe (float elements widen exactly, dot and
  *     the two squared norms accumulate in element order, result is
  *     `dot / (sqrt(na) * sqrt(nb))`); the centroid-norm factor is
  *     precomputed once per centroid WITH THE SAME fold order, so the
  *     denominator is the identical double;
  *   - selection order is ascending `(negcos, idx)` under SQL double
  *     ordering (SQLOrderingUtil: -0.0 equals 0.0, NaN sorts last) —
  *     exactly `array_sort`'s struct comparator;
  *   - a null input array is null; a null element or a
  *     dimension-mismatched vector nulls every cosine, and
  *     `array_sort` then orders the all-null structs by `idx` — the
  *     result is `[0, 1, …, nprobe-1]`, reproduced here;
  *   - a zero-norm vector (either side) throws the same
  *     `[DIVIDE_BY_ZERO]` ArithmeticException the HOF's cosine throws.
  *
  * Per-row cost: Cauchy–Schwarz group pruning over ~√k representative
  * points of the UNIT-normalized centroids (the [[CentroidDotIndex]]
  * recipe): groups whose cosine upper bound sits conservatively below
  * the current nprobe-th best are skipped without touching members,
  * and evaluated members pay one dot loop (norms are precomputed).
  * Pruning is disabled — flat index-order evaluation, preserving the
  * throw-at-first-zero-norm-centroid order — when any centroid has a
  * zero norm (degenerate matrix; never produced by Lloyd over real
  * vectors). The bound carries the same conservative slack argument
  * as [[CentroidDotIndex]]: float error can only weaken pruning.
  */
case class ProbeListsArray(child: Expression, centroids: Seq[Seq[Double]], nprobe: Int)
    extends UnaryExpression {
  require(centroids.nonEmpty, "need at least one centroid")
  require(nprobe > 0, "nprobe must be positive")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "probe_lists"

  private lazy val elementIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"probe_lists requires array<float|double>, got ${other.catalogString}")
  }

  @transient private lazy val index: ProbeListsIndex =
    new ProbeListsIndex(centroids.map(_.toArray).toArray, nprobe)

  override def nullSafeEval(input: Any): Any =
    probesOf(input.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  private[graft] def probesOf(arr: ArrayData): ArrayData = {
    val dims = arr.numElements()
    val cd = index.dims
    val take = math.min(nprobe, centroids.length)
    if (dims != cd) return new GenericArrayData(Array.tabulate(take)(identity))
    val vec = new Array[Double](dims)
    var j = 0
    while (j < dims) {
      if (arr.isNullAt(j))
        return new GenericArrayData(Array.tabulate(take)(identity))
      vec(j) = if (elementIsFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      j += 1
    }
    new GenericArrayData(index.probes(vec))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("probeListsExpr", this, classOf[ProbeListsArray].getName)
    defineCodeGen(ctx, ev, c => s"$self.probesOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeListsArray =
    copy(child = newChild)
}

private[functions] final class ProbeListsIndex(matrix: Array[Array[Double]], nprobe: Int) {
  private val k = matrix.length
  val dims: Int = matrix.head.length
  private val take = math.min(nprobe, k)
  private val flatThreshold = 128

  // per-centroid norm factors with DoubleCosine's exact fold order:
  // nb accumulates y*y in element order, independent of the dot
  // interleaving, so sqrt(nb) is the identical double
  private val sqrtNb: Array[Double] = matrix.map { c =>
    var nb = 0.0
    var d = 0
    while (d < dims) { val y = c(d); nb += y * y; d += 1 }
    math.sqrt(nb)
  }
  private val hasZeroNormCentroid = sqrtNb.exists(_ == 0.0)

  private def zeroNorm(): Nothing =
    throw new ArithmeticException(
      "[DIVIDE_BY_ZERO] double_cosine: zero-norm vector")

  /** SQL double ordering (array_sort's comparator for double struct
    * fields): -0.0 equals 0.0, NaN sorts greater than everything —
    * org.apache.spark.sql.catalyst.util.SQLOrderingUtil semantics.
    */
  @inline private def sqlCompare(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** dot(vec, matrix(i)) with DoubleCosine's accumulation order. */
  @inline private def dot(vec: Array[Double], i: Int): Double = {
    val c = matrix(i)
    var s = 0.0
    var d = 0
    while (d < dims) { s += vec(d) * c(d); d += 1 }
    s
  }

  // group structure over the UNIT-normalized centroids (pruning
  // geometry only — evaluation uses the raw matrix): the
  // CentroidDotIndex recipe (evenly spaced seeds, 3 Lloyd iterations)
  private val (reps, members, radii): (Array[Array[Double]], Array[Array[Int]], Array[Double]) =
    if (k < flatThreshold || hasZeroNormCentroid) (null, null, null)
    else {
      val unit = Array.tabulate(k) { i =>
        val c = matrix(i); val n = sqrtNb(i)
        Array.tabulate(dims)(d => c(d) / n)
      }
      def distSq(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var d = 0
        while (d < dims) { val df = a(d) - b(d); s += df * df; d += 1 }
        s
      }
      val g = math.min(256, math.ceil(math.sqrt(k.toDouble)).toInt)
      var rep = Array.tabulate(g)(j => unit(((j.toLong * k) / g).toInt).clone())
      val assign = new Array[Int](k)
      var iter = 0
      while (iter < 3) {
        var i = 0
        while (i < k) {
          var bi = 0; var bd = Double.PositiveInfinity
          var j = 0
          while (j < g) {
            val d = distSq(unit(i), rep(j))
            if (d < bd) { bd = d; bi = j }
            j += 1
          }
          assign(i) = bi
          i += 1
        }
        if (iter < 2) {
          val sums = Array.ofDim[Double](g, dims)
          val counts = new Array[Long](g)
          i = 0
          while (i < k) {
            val j = assign(i); val c = unit(i)
            var d = 0
            while (d < dims) { sums(j)(d) += c(d); d += 1 }
            counts(j) += 1
            i += 1
          }
          rep = Array.tabulate(g) { j =>
            if (counts(j) == 0) rep(j)
            else Array.tabulate(dims)(d => sums(j)(d) / counts(j))
          }
        }
        iter += 1
      }
      val byGroup = Array.fill(g)(new scala.collection.mutable.ArrayBuffer[Int])
      var i = 0
      while (i < k) { byGroup(assign(i)) += i; i += 1 }
      val nonEmpty = (0 until g).filter(byGroup(_).nonEmpty)
      val r = nonEmpty.map(rep(_)).toArray
      val m = nonEmpty.map(byGroup(_).toArray).toArray
      val rad = nonEmpty
        .map(j => math.sqrt(byGroup(j).map(i => distSq(unit(i), rep(j))).max))
        .toArray
      (r, m, rad)
    }

  /** Top-`take` centroid indexes, ascending (negcos, idx) — the exact
    * array_sort order. `heapNeg`/`heapIdx` hold the current selection
    * sorted ascending; worst kept entry sits at position `size-1`.
    */
  def probes(vec: Array[Double]): Array[Int] = {
    var na = 0.0
    var d = 0
    while (d < dims) { val x = vec(d); na += x * x; d += 1 }
    val sqrtNa = math.sqrt(na)

    val heapNeg = new Array[Double](take)
    val heapIdx = new Array[Int](take)
    var size = 0
    // ascending (negcos, idx) insertion; returns nothing, keeps best
    // `take` entries under java.lang.Double.compare ordering
    def offer(neg: Double, idx: Int): Unit = {
      if (size == take) {
        val cw = sqlCompare(neg, heapNeg(size - 1))
        if (cw > 0 || (cw == 0 && idx > heapIdx(size - 1))) return
      }
      var pos = if (size == take) size - 1 else size
      if (size < take) size += 1
      var b = pos - 1
      while (b >= 0 && {
        val c = sqlCompare(heapNeg(b), neg)
        c > 0 || (c == 0 && heapIdx(b) > idx)
      }) {
        heapNeg(b + 1) = heapNeg(b); heapIdx(b + 1) = heapIdx(b)
        b -= 1
      }
      heapNeg(b + 1) = neg; heapIdx(b + 1) = idx
    }
    @inline def cosineOf(i: Int): Double = {
      val denom = sqrtNa * sqrtNb(i)
      if (denom == 0.0) zeroNorm()
      dot(vec, i) / denom
    }

    if (reps == null) {
      var i = 0
      while (i < k) { offer(-cosineOf(i), i); i += 1 }
      return java.util.Arrays.copyOf(heapIdx, size)
    }
    if (sqrtNa == 0.0) zeroNorm() // HOF throws at its first cosine

    // normalized query for the bound geometry
    val xhat = new Array[Double](dims)
    d = 0
    while (d < dims) { xhat(d) = vec(d) / sqrtNa; d += 1 }
    val g = reps.length
    val ub = new Array[Double](g)
    var j = 0
    while (j < g) {
      val r = reps(j)
      var s = 0.0
      var d2 = 0
      while (d2 < dims) { s += xhat(d2) * r(d2); d2 += 1 }
      ub(j) = s + radii(j)
      j += 1
    }
    val order = Array.tabulate(g)(identity)
    var a = 1
    while (a < g) {
      val o = order(a); val key = ub(o)
      var b = a - 1
      while (b >= 0 && ub(order(b)) < key) { order(b + 1) = order(b); b -= 1 }
      order(b + 1) = o
      a += 1
    }
    val slack = 1e-9
    var oi = 0
    while (oi < g) {
      val gi = order(oi)
      // prune only on a definite strict bound BELOW the worst kept
      // cosine of a FULL selection; NaN comparisons fall through
      val prune = size == take && ub(gi) + slack < -heapNeg(size - 1)
      if (!prune) {
        val mem = members(gi)
        var mi = 0
        while (mi < mem.length) {
          val i = mem(mi)
          offer(-cosineOf(i), i)
          mi += 1
        }
      }
      oi += 1
    }
    java.util.Arrays.copyOf(heapIdx, size)
  }
}
