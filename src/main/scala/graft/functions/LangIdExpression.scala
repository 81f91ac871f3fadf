package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for stopword-profile language id,
  * replacing the higher-order-function formulation
  * ([[TextFunctions.langId]]).
  *
  * The HOF form evaluates, per row, one interpreted
  * `size(filter(tokens, array_contains(profile, _)))` per language —
  * O(tokens x profile x languages) interpreted lambda dispatches. Here
  * the profiles fold into ONE hash map (word -> language indices) built
  * once per task; each row is a single tokenize pass with O(1) lookups,
  * the form a 100 TB corpus scan needs.
  *
  * Semantics are bit-identical to the HOF form (LangIdSpec asserts
  * agreement on corpus and adversarial inputs):
  *   - tokens = java-regex `\s+` split of the lowercased, trimmed text
  *     (duplicate tokens count every occurrence);
  *   - winner = lexicographic max of (score, code) — ties on score go
  *     to the lexicographically LATER language code, exactly like
  *     `greatest` over (score, lang) structs;
  *   - zero hits -> "und"; null text -> null.
  */
case class LangIdExpression(child: Expression, profiles: Map[String, Seq[String]])
    extends UnaryExpression {
  require(profiles.nonEmpty, "at least one language profile required")

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "lang_id"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"lang_id requires string, got ${other.catalogString}")
  }

  @transient private lazy val langs: Array[String] = profiles.keys.toArray.sorted

  @transient private lazy val wordToLangs: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    langs.zipWithIndex.foreach { case (code, i) =>
      profiles(code).foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  private val Und = UTF8String.fromString("und")

  override def nullSafeEval(input: Any): Any =
    langOf(input.asInstanceOf[UTF8String])

  /** public: called from generated code via an expression reference */
  private[graft] def langOf(input: UTF8String): UTF8String = {
    // UTF8String's own trim/toLowerCase so canonicalization matches
    // Spark's trim()/lower() exactly (incl. unicode case folding)
    val s = input.trim().toLowerCase.toString
    val counts = new Array[Int](langs.length)
    ws.split(s, -1).foreach { tok =>
      val hit = wordToLangs.get(tok)
      if (hit != null) { var i = 0; while (i < hit.length) { counts(hit(i)) += 1; i += 1 } }
    }
    var bestScore = 0
    var bestLang: String = null
    var i = 0
    while (i < langs.length) {
      // strict >=: equal scores prefer the later (sorted) code — the
      // `greatest(struct(score, lang))` tie rule
      if (counts(i) >= bestScore) { bestScore = counts(i); bestLang = langs(i) }
      i += 1
    }
    if (bestScore > 0) UTF8String.fromString(bestLang) else Und
  }

  /** Real whole-stage codegen (not CodegenFallback — the fallback trait
    * ejects the entire enclosing stage from whole-stage codegen). The
    * tokenize-and-count loop stays one JVM method on a referenced
    * expression object (per-task profile map included); the surrounding
    * stage stays fused in generated code.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("langIdExpr", this, classOf[LangIdExpression].getName)
    defineCodeGen(ctx, ev, c => s"$self.langOf($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdExpression =
    copy(child = newChild)
}
