package graft.functions

import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.text.Normalizer

/** Unicode normalization as a native expression — the first pass of
  * any multilingual corpus pipeline: visually-identical strings with
  * different codepoint sequences (composed vs combining accents,
  * compatibility forms) must collapse BEFORE any hash-based operator
  * (exact dedup fingerprints, MinHash shingles, token counts) or the
  * same document evades every downstream dedup by byte difference
  * alone. Spark ships no normalizer builtin; this wraps
  * `java.text.Normalizer` behind real codegen (referenced-object
  * pattern), so it fuses into the scan projection.
  *
  * NFC is the oracle-replayable form (DuckDB `nfc_normalize` — both
  * engines implement the same Unicode canonical composition, gated
  * bit-exactly by `text_normalize`); NFD/NFKC/NFKD are offered for
  * pipelines standardizing on them (NFKC is what most LLM tokenizers
  * ingest).
  */
case class NormalizeText(child: Expression, form: String) extends UnaryExpression {

  @transient private lazy val normalizerForm: Normalizer.Form =
    Normalizer.Form.valueOf(form.toUpperCase(java.util.Locale.ROOT))
  // validate eagerly at construction, not first row
  require(
    Seq("NFC", "NFD", "NFKC", "NFKD").contains(form.toUpperCase(java.util.Locale.ROOT)),
    s"unknown normalization form '$form' (expected NFC/NFD/NFKC/NFKD)")

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "normalize_text"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"normalize_text requires a string input, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    normalizeOf(input.asInstanceOf[UTF8String])

  /** public: called from generated code via an expression reference */
  private[graft] def normalizeOf(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: already normalized (the overwhelmingly common case
    // for ASCII-heavy corpora) — skip the rebuild
    if (Normalizer.isNormalized(str, normalizerForm)) s
    else UTF8String.fromString(Normalizer.normalize(str, normalizerForm))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("normalizeTextExpr", this, classOf[NormalizeText].getName)
    defineCodeGen(ctx, ev, c => s"$self.normalizeOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {
  def nfc(c: Column): Column = apply(c, "NFC")
  def apply(c: Column, form: String): Column =
    GraftColumnShim.column(NormalizeText(GraftColumnShim.expression(c), form))
}
