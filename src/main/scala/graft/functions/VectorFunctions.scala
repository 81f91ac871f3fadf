package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` / `array<double>` columns,
  * composed from codegen'd built-ins (`zip_with` + `aggregate`) — no
  * UDFs, so vector scans stay inside whole-stage codegen at scale.
  */
object VectorFunctions {

  /** Elementwise dot product, accumulated in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Euclidean (L2) norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision.
    *
    * Native fused-loop expression ([[DoubleCosine]], real codegen, one
    * pass instead of three); DoubleCosineSpec holds the interpreted
    * HOF form as the differential reference and asserts bit identity.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      DoubleCosine(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(b)))

  /** Dot product with each elementwise product cast to
    * `decimal(28,14)` before summing. Decimal sums are exact and
    * order-independent, so the result is identical regardless of
    * partitioning/accumulation order — and identical across engines
    * (no double can land exactly half-way at a decimal scale >= 1, so
    * the per-element cast rounds the same everywhere). Use for results
    * that must hash-match an external oracle; [[dot]] is cheaper for
    * perf paths.
    */
  def dotDecimal(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast("decimal(20,14)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(30,14)"),
      // decimal addition widens precision by 1 (30,14)+(20,14)->(31,14);
      // cast back keeps scale 14, so it never rounds — it can only
      // overflow, and 16 integral digits is far beyond any realistic
      // embedding-dot magnitude
      (acc, x) => (acc + x).cast("decimal(30,14)"))

  /** Cosine similarity with decimal-accumulated dot/norms (see
    * [[dotDecimal]]): the final double is a pure function of the
    * element values, independent of summation order, so a rounded
    * output can never straddle a rounding boundary differently than an
    * oracle computing the same formulation.
    *
    * Native fused-loop expression ([[DecimalCosine]], real codegen);
    * DecimalCosineSpec holds the interpreted HOF composition as the
    * differential reference and asserts bit identity.
    */
  def cosineDecimal(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      DecimalCosine(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(b)))

  /** Scalar int8 quantization scale: `max(|v_i|) / 127`, the symmetric
    * per-vector scale used below. 0 for the all-zero vector.
    */
  def quantizeScale(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double")))) / lit(127.0)

  /** Symmetric int8 quantization: `q_i = floor(v_i/scale + 0.5)` in
    * [-127, 127] (`floor(x + 0.5)` instead of `round` because its IEEE
    * arithmetic is bit-identical across engines — that is what lets an
    * oracle replay the quantization exactly). A 4x memory cut per
    * float32 corpus — the difference between an embedding table that
    * fits executor memory at 100 TB and one that doesn't — for ~1%
    * cosine error (QuantizationSpec measures it). All-zero vectors
    * quantize to all zeros.
    */
  def quantizeInt8(v: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => floor(x.cast("double") / scale + lit(0.5)).cast("long")))

  /** Exact integer dot product of two quantized vectors (int8 range:
    * products <= 127^2 x dims — a long never overflows).
    */
  def intDot(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Approximate cosine from int8-quantized vectors: integer dot and
    * norms are EXACT, so the only error is quantization itself; the
    * final division/sqrt are deterministic IEEE ops, reproducible
    * cross-engine.
    *
    * Native fused-loop expression ([[QuantizedCosine]], real codegen);
    * QuantizedCosineSpec holds the interpreted HOF form as the
    * differential reference and asserts bit identity.
    */
  def cosineQuantized(qa: Column, qb: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      QuantizedCosine(
        org.apache.spark.sql.GraftColumnShim.expression(qa),
        org.apache.spark.sql.GraftColumnShim.expression(qb)))

  /** Random-hyperplane (SimHash) signature for cosine LSH: `bits`
    * pseudo-random hyperplanes derived deterministically from `seed`;
    * bit i is the sign of the projection onto hyperplane i. Vectors with
    * high cosine similarity agree on most bits. Returns a long bitmask
    * (bits <= 63).
    *
    * The hyperplane components are derived from `xxhash64(i, j, seed)`
    * mapped to [-1, 1) — deterministic across the cluster with no
    * broadcast state needed. Computed by the native
    * [[HyperplaneSignature]] expression, which derives the component
    * matrix once per task instead of re-hashing bits x dims times per
    * row as the HOF formulation did.
    */
  def hyperplaneSignature(vec: Column, bits: Int, seed: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      HyperplaneSignature(org.apache.spark.sql.GraftColumnShim.expression(vec), bits, seed))

  /** Hamming distance between two long bit signatures. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** L2-normalize to a unit vector (null-safe on the zero vector:
    * returns the zero vector unchanged). Normalizing once at write time
    * turns every later cosine into a plain dot product — at 100 TB that
    * halves the arithmetic of each ANN scan.
    */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }

  /** Elementwise mean of an array-of-vectors column (mean pooling, e.g.
    * token embeddings -> document embedding). Empty input -> null.
    */
  def meanPool(vectors: Column): Column = {
    val summed = aggregate(
      vectors,
      transform(element_at(vectors, 1), x => x.cast("double") * 0.0),
      (acc, v) => zip_with(acc, v, (a, x) => a + x.cast("double")))
    when(size(vectors) > 0, transform(summed, x => x / size(vectors)))
  }
}
