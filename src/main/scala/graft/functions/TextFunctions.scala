package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for large-scale training-data pipelines.
  *
  * Everything here is composed from `org.apache.spark.sql.functions`
  * built-ins (whole-stage-codegen'd; no UDFs in the hot path), so a
  * 100 TB documents scan stays a single codegen stage per partition with
  * zero serialization boundaries.
  */
object TextFunctions {

  /** Whitespace tokens. Lower-cases first so downstream set lookups are
    * case-insensitive.
    */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace-delimited token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish sub-word token estimate: words plus intra-word
    * letter/digit/punct transitions (a cheap, deterministic stand-in for
    * a real tokenizer's token count).
    */
  def subwordTokenCount(text: Column): Column =
    size(split(trim(text), "(?<=[a-z])(?=[A-Z0-9])|(?<=[0-9])(?=[A-Za-z])|\\s+|(?=[\\p{Punct}])"))
      .cast("long")

  /** Characters matched by the class, as a count. `cls` must be a valid
    * Java regex character class, e.g. `"[.,;:!?]"`.
    */
  private def charClassCount(text: Column, cls: String): Column =
    (length(text) - length(regexp_replace(text, cls, ""))).cast("long")

  /** Punctuation ratio (simple fixed class, identical semantics in ANSI
    * SQL engines for oracle checks).
    */
  def punctRatio(text: Column): Column =
    charClassCount(text, "[.,;:!?]").cast("double") / length(text)

  /** Default English stopword sample used by [[stopwordRatio]]. */
  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val stops = array(stopwords.map(lit): _*)
    val toks = tokens(text)
    size(filter(toks, t => array_contains(stops, t))).cast("double") / size(toks)
  }

  /** Composite quality score in [0,1]: rewards moderate length, low
    * punctuation density, presence of stopwords (prose-likeness).
    * Deterministic and fully codegen'd.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val lenScore = least(len / lit(500.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    round((lenScore + punctScore + stopScore) / 3.0, 4)
  }

  /** Canonical-form document fingerprint: md5 of the
    * lowercased, whitespace-collapsed text. Exact-duplicate clusters
    * share a fingerprint regardless of case/spacing differences.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** 64-bit rolling-style content hash (xxhash64 of canonical form) —
    * cheaper than md5 when a string hash is not required.
    */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word n-grams from an already-computed token array column. Short
    * inputs (< n tokens) yield the whole text as one shingle. Stage
    * `tokens(text)` as its own projection first: interpreted
    * higher-order functions re-evaluate inlined subtrees per element.
    * Native codegen'd expression ([[WordNgrams]]); its HOF twin is the
    * differential reference in WordNgramsSpec.
    */
  def ngramsFromTokens(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      WordNgrams(org.apache.spark.sql.GraftColumnShim.expression(toks), n))

  /** Character n-gram (shingle) array over the canonical form.
    * Windowing is the native codegen'd [[CharShinglesExpr]]; its HOF
    * twin is the differential reference in WordNgramsSpec.
    */
  def charShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      CharShinglesExpr(
        org.apache.spark.sql.GraftColumnShim.expression(
          regexp_replace(lower(trim(text)), "\\s+", " ")),
        n))

  /** Language id via [[LangIdExpression]] — one tokenize pass + hash
    * lookups per row. Same semantics as the built-ins formulation
    * LangIdSpec keeps as its differential reference (one interpreted
    * `filter`/`array_contains` pass per language profile).
    */
  def langId(text: Column, profiles: Map[String, Seq[String]] = LangProfiles): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      LangIdExpression(org.apache.spark.sql.GraftColumnShim.expression(text), profiles))

  /** Redact email addresses and phone-number-shaped digit runs —
    * training-corpus PII scrubbing. Two codegen'd `regexp_replace`
    * passes (no UDF); patterns are RE2-compatible so any engine can
    * replay them (that is how the oracle gates `text_scrub_pii`).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  // ------------------------------------------------------------------
  // Gopher-style repetition / shape signals (Rae et al. 2021 §A1.1,
  // adapted to word/n-gram repetition: this engine's quality gate runs
  // before any line re-flowing, and duplicate words and n-grams are the
  // signals that survive single-line documents). All built-ins —
  // per-row array ops, no shuffle, no UDF — and every formula is
  // replayable in ANSI-ish SQL (list functions), which is how
  // `text_gopher_quality` is oracle-gated.
  // ------------------------------------------------------------------

  /** Fraction of words that are repeats of an earlier word:
    * `1 - |distinct|/|words|` computed as an exact integer ratio.
    */
  def dupWordFraction(toks: Column): Column =
    (size(toks) - size(array_distinct(toks))).cast("double") / size(toks)

  /** Fraction of all words taken by the single most frequent word
    * (Gopher gates documents where one token dominates). O(distinct x
    * words) per row — bounded by document length, not corpus size.
    */
  def topWordFraction(toks: Column): Column =
    array_max(
      transform(array_distinct(toks), w => size(filter(toks, x => x === w))))
      .cast("double") / size(toks)

  /** Fraction of word n-grams that are repeats (Gopher's duplicate
    * 2-/3-/4-gram fractions). Uses [[ngramsFromTokens]], so short
    * documents (< n words) are a single whole-text shingle with zero
    * duplication.
    */
  def dupNgramFraction(toks: Column, n: Int): Column = {
    val gs = ngramsFromTokens(toks, n)
    (size(gs) - size(array_distinct(gs))).cast("double") / size(gs)
  }

  /** Longest run of identical consecutive tokens (the stutter /
    * boilerplate-spam signal: "buy buy buy buy ..."). One linear fold
    * per row — no explode, no shuffle; streams for free.
    */
  def maxEqualRun(toks: Column): Column =
    aggregate(
      toks,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val newRun = when(x <=> acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), newRun.as("run"),
          greatest(acc.getField("best"), newRun).as("best"))
      },
      acc => acc.getField("best"))

  /** Multiplicity of the single most frequent word n-gram (the Gopher
    * "top n-gram" repetition signal): sort the shingle array, then the
    * longest equal run IS the top multiplicity — O(len log len) per
    * row instead of the O(distinct x len) filter-count shape.
    */
  def topNgramCount(toks: Column, n: Int): Column =
    maxEqualRun(array_sort(ngramsFromTokens(toks, n)))

  /** Mean word length in characters (Gopher keeps 3-10). */
  def meanWordLength(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(toks)

  /** Gopher-adapted keep gate over the repetition/shape signals:
    * mean word length in [3, 10], no single word above 20% of the
    * document, duplicate-bigram fraction at most 20%.
    */
  def gopherKeep(toks: Column): Column =
    meanWordLength(toks).between(lit(3.0), lit(10.0)) &&
      topWordFraction(toks) <= lit(0.2) &&
      dupNgramFraction(toks, 2) <= lit(0.2)

  /** Small public stopword profiles (top function words per language). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que", "des", "du"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "para", "en", "que", "de"),
    "it" -> Seq("il", "la", "gli", "e", "è", "un", "una", "per", "che", "di", "non", "con"))
}
