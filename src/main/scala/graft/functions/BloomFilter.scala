package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression, GenericInternalRow, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom filter (Bloom 1970) as a custom Catalyst
  * `TypedImperativeAggregate` plus two probe expressions: the
  * fixed-memory membership summary — [[CountMinSketchAgg]] answers
  * "how often", [[HyperLogLogAgg]] "how many different", this one "is
  * it one of THOSE". The scale story is decontamination with an eval
  * set too large to ship exactly: ~10 bits/element of bit-set replaces
  * the full gram strings (a 10-50x closure/broadcast cut), with ZERO
  * false negatives by construction — no contaminated document ever
  * slips through — and a bounded false-positive rate that only costs
  * a few clean documents (Spark's own `BloomFilterAggregate` is the
  * internal twin; this one has a deterministic portable layout, a
  * column-level probe, and a closure-shipped streaming form).
  *
  * Determinism contract: bit sets are OR-folds over fixed seeded
  * xxhash64 rows, so partials merge associatively/commutatively and
  * the final words are a pure function of the data set — independent
  * of partitioning, order, retries, or grouping (BloomFilterSpec
  * proves union-of-groups == whole-corpus). Not SQL-replayable, so
  * gated queries emit exact membership plus in-plan no-false-negative
  * and false-positive-bound verdicts (the q34 tolerance pattern);
  * [[BloomContains]] probes with the SAME hash rows the aggregate set.
  */
case class BloomFilterAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits > 0 && numBits % 64 == 0, "numBits must be a positive multiple of 64")
  require(numHashes > 0 && numHashes <= 16, "numHashes must be in [1, 16]")

  // child evaluated ONCE per row; the per-seed hash expressions rebind
  // to the pre-evaluated value (the CountMinSketchAgg convention)
  @transient private lazy val valueRow = new GenericInternalRow(1)
  @transient private lazy val hashExprs: Array[Expression] =
    Array.tabulate(numHashes)(i =>
      XxHash64(
        Seq(BoundReference(0, child.dataType, nullable = false)),
        BloomFilter.seed(i)))

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType | _: MapType | _: StructType =>
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg requires an atomic input type, got ${child.dataType.catalogString}")
    case _ => TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      valueRow.update(0, v)
      var i = 0
      while (i < numHashes) {
        val h = hashExprs(i).eval(valueRow).asInstanceOf[Long]
        val bit = java.lang.Math.floorMod(h, numBits.toLong).toInt
        buf(bit >> 6) |= 1L << (bit & 63)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bytes.putLong)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(numBits / 64)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomFilterAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "bloom_agg"
}

/** In-plan membership probe of `value` against a bloom word-array
  * column (typically the broadcast one-row aggregate output): true iff
  * every one of the value's `numHashes` bits is set. Same seeded hash
  * rows as [[BloomFilterAgg]] — no false negatives by construction.
  * Codegen via the referenced-object pattern.
  */
case class BloomContains(
    left: Expression,
    right: Expression,
    numBits: Int,
    numHashes: Int)
  extends BinaryExpression {

  require(numBits > 0 && numBits % 64 == 0, "numBits must be a positive multiple of 64")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), _: ArrayType | _: MapType | _: StructType) =>
      TypeCheckResult.TypeCheckFailure(
        s"bloom_contains requires an atomic probe value, got ${right.dataType.catalogString}")
    case (ArrayType(LongType, _), _) => TypeCheckResult.TypeCheckSuccess
    case (l, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"bloom_contains requires array<bigint> words, got ${l.catalogString}")
  }

  @transient private lazy val valueRow = new GenericInternalRow(1)
  @transient private lazy val hashExprs: Array[Expression] =
    Array.tabulate(numHashes)(i =>
      XxHash64(
        Seq(BoundReference(0, right.dataType, nullable = false)),
        BloomFilter.seed(i)))

  override def nullSafeEval(words: Any, value: Any): Any =
    containsOf(words.asInstanceOf[ArrayData], value)

  /** public: called from generated code via an expression reference */
  private[graft] def containsOf(words: ArrayData, value: Any): Boolean = {
    valueRow.update(0, value)
    var i = 0
    while (i < numHashes) {
      val h = hashExprs(i).eval(valueRow).asInstanceOf[Long]
      val bit = java.lang.Math.floorMod(h, numBits.toLong).toInt
      if ((words.getLong(bit >> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomContainsExpr", this, classOf[BloomContains].getName)
    defineCodeGen(ctx, ev, (w, v) => s"$self.containsOf($w, $v)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

/** Closure-shipped bloom probe over an `array<string>` column: how
  * many elements hit the (constant) bloom words. The fixed-memory
  * sibling of [[ArrayHitCount]] — ship 2^22 bits (512 KB) instead of
  * the exact gram set — and stateless, so it serves unaggregated
  * streams (StreamBloomDecontaminationSpec).
  */
case class BloomHitCount(
    child: Expression,
    words: Seq[Long],
    numHashes: Int)
  extends UnaryExpression {

  require(words.nonEmpty, "bloom words must be non-empty")
  private val numBits = words.length * 64

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bloom_hit_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"bloom_hit_count requires array<string>, got ${other.catalogString}")
  }

  @transient private lazy val wordArr: Array[Long] = words.toArray
  @transient private lazy val valueRow = new GenericInternalRow(1)
  @transient private lazy val hashExprs: Array[Expression] =
    Array.tabulate(numHashes)(i =>
      XxHash64(
        Seq(BoundReference(0, StringType, nullable = false)),
        BloomFilter.seed(i)))

  override def nullSafeEval(input: Any): Any = hitCountOf(input.asInstanceOf[ArrayData])

  /** public: called from generated code via an expression reference */
  private[graft] def hitCountOf(arr: ArrayData): Long = {
    var hits = 0L
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      if (!arr.isNullAt(j) && contains(arr.getUTF8String(j))) hits += 1L
      j += 1
    }
    hits
  }

  private def contains(s: UTF8String): Boolean = {
    valueRow.update(0, s)
    var i = 0
    while (i < numHashes) {
      val h = hashExprs(i).eval(valueRow).asInstanceOf[Long]
      val bit = java.lang.Math.floorMod(h, numBits.toLong).toInt
      if ((wordArr(bit >> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomHitCountExpr", this, classOf[BloomHitCount].getName)
    defineCodeGen(ctx, ev, c => s"$self.hitCountOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomHitCount =
    copy(child = newChild)
}

object BloomFilter {

  /** Default geometry: 2^22 bits = 512 KB — >= 10 bits/element up to
    * ~400 k members (false positives < 1%), and still < 1e-4 at the
    * tens-of-thousands scale the gated fixtures run.
    */
  val DefaultNumBits: Int = 1 << 22
  val DefaultNumHashes: Int = 7

  /** Hash seed of probe row `i` (functions.xxhash64's seed base). */
  def seed(i: Int): Long = 42L + i

  /** Aggregate column: the OR-folded bloom words. */
  def sketch(
      c: Column,
      numBits: Int = DefaultNumBits,
      numHashes: Int = DefaultNumHashes): Column =
    GraftColumnShim.column(
      BloomFilterAgg(GraftColumnShim.expression(c), numBits, numHashes)
        .toAggregateExpression())

  /** In-plan membership probe (see [[BloomContains]]). */
  def contains(
      words: Column,
      value: Column,
      numBits: Int = DefaultNumBits,
      numHashes: Int = DefaultNumHashes): Column =
    GraftColumnShim.column(
      BloomContains(
        GraftColumnShim.expression(words),
        GraftColumnShim.expression(value),
        numBits, numHashes))

  /** Elementwise OR of two word columns: the bloom of the union of the
    * underlying sets — the aggregate's own merge, in-plan, for
    * persisted-store absorption ([[graft.operators.SketchStore]]).
    */
  def union(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.zip_with(a, b, (x, y) => x.bitwiseOR(y))

  /** Closure-shipped array probe (see [[BloomHitCount]]). */
  def hitCount(arr: Column, words: Seq[Long], numHashes: Int = DefaultNumHashes): Column =
    GraftColumnShim.column(
      BloomHitCount(GraftColumnShim.expression(arr), words, numHashes))
}
