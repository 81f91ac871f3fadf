package graft.operators

import graft.functions.VectorFunctions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary (sign-bit) embedding quantization + Hamming-distance ANN —
  * the memory-bound scale path of the ANN family: a d-dim float32
  * vector (4d bytes) collapses to d sign bits (d/8 bytes), a 32x cut,
  * and the candidate scan is pure integer XOR+popcount inside
  * whole-stage codegen — no float math touches the ~all of the corpus
  * that fails the cheap bit test.
  *
  * At 100 TB the play is: persist [[packSignBits]] as a table column
  * at write time (8 bytes/vector at d=64), scan ONLY that column for
  * the Hamming pool (per-partition top-R via TakeOrderedAndProject —
  * no global sort), then rerank the R survivors with exact cosine.
  * The raw vectors are touched R times, not N times. Complements
  * [[SimilaritySearch.lshTopK]] (random hyperplanes; data-independent
  * projections) — sign bits ARE the vector's own coordinates, so
  * recall tracks coordinate-sign agreement, which for normalized
  * near-duplicates is near-perfect.
  *
  * Engine-portability: a word packs 32 bits (never the sign bit of a
  * long), `bit_count(a XOR b)` over the packed words equals the count
  * of dimensions whose strict-positive predicate differs — an ANSI
  * oracle can replay Hamming WITHOUT bit tricks as
  * `sum(CASE WHEN (a_i > 0) <> (b_i > 0) THEN 1 END)`
  * (BinaryAnnSpec proves the identity), so the whole pool -> rerank
  * pipeline is bit-exact cross-engine.
  *
  * Reference scope: the reference engine ships no ANN; this extends
  * the training-data tier (near-dup mining / similarity search over
  * document embeddings).
  */
object BinaryAnn {

  /** Pack the strict-positive sign bits of a float/double array into
    * 32-bit words (`array<long>`, low word first, bit `i mod 32` of
    * word `i / 32` set iff `vec[i] > 0`). 32 bits per word — not
    * 64 — so no value ever reaches a long's sign bit and the packed
    * words survive any engine's signed arithmetic unchanged. Native
    * codegen'd expression ([[graft.functions.SignBits]]); BinaryAnnSpec
    * keeps the HOF formulation as the differential reference.
    */
  def packSignBits(vec: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.SignBits(org.apache.spark.sql.GraftColumnShim.expression(vec)))

  /** Hamming distance between two packed sign-bit arrays: popcount of
    * the per-word XOR, summed. Native codegen'd expression
    * ([[graft.functions.HammingWords]]) — the candidate scan stays
    * inside one WholeStageCodegen stage.
    */
  def hammingWords(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.HammingWords(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(b)))

  /** Top-k by exact cosine over a Hamming-pruned candidate pool:
    * the `poolSize` corpus vectors nearest the query in sign-bit
    * Hamming distance (ties by id — deterministic) are reranked by
    * `cosineFn`. Returns (id, ham, cos) — top-k by (cos desc, id).
    *
    * Both stages are TakeOrderedAndProject (per-partition top-k +
    * driver merge of poolSize rows) — no global sort, no shuffle of
    * the corpus.
    */
  def topK(
      corpus: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      poolSize: Int = 64,
      cosineFn: (Column, Column) => Column = VectorFunctions.cosine): DataFrame = {
    require(poolSize >= k, "poolSize must be >= k")
    val q = query.select(
      col(vecCol).as("__qv"),
      packSignBits(col(vecCol)).as("__qsig"))
    val pool = TextDedup.spreadToCores(corpus)
      .crossJoin(broadcast(q))
      .select(
        col(idCol), col(vecCol), col("__qv"),
        hammingWords(packSignBits(col(vecCol)), col("__qsig")).as("ham"))
      .orderBy(col("ham"), col(idCol))
      .limit(poolSize)
    pool
      .select(col(idCol), col("ham"), cosineFn(col(vecCol), col("__qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
