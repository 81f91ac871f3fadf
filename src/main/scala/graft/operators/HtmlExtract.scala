package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML→text extraction and boilerplate-line removal — the corpus
  * pipeline stage UPSTREAM of everything else in this engine (quality
  * scoring, dedup, tokenizers all consume extracted text; real web
  * corpora arrive as markup). No counterpart in the reference
  * (kafka2delta ingests structured CDC rows); this is the LLM-pipeline
  * extension tier, prescribed by the r16 review.
  *
  * Extraction semantics are DEFINED as a fixed, ordered pipeline of
  * regex rewrites ([[TagSteps]] → [[EntitySteps]] → [[SpaceSteps]]):
  * comments/script/style blocks dropped, block-level tags become line
  * breaks, remaining tags become spaces, a fixed named-entity set
  * decodes (after tag stripping, `&amp;` last — the standard order
  * that keeps `&amp;lt;` from double-decoding), and whitespace
  * collapses per line. A rewrite pipeline rather than a DOM parse is
  * deliberate:
  *
  *   - every step is a codegen'd native `regexp_replace` — one
  *     stateless projection per row, whole-stage-codegen'd end to end,
  *     no UDF, no driver state: at 100 TB this is a pure map over the
  *     corpus scan, parallelism = input splits;
  *   - the SAME pattern list replays in DuckDB ([[duckdbExtractSql]]
  *     is generated from the shared constants), so the driver's oracle
  *     hash-gates the whole extraction bit-for-bit — the MP4/MKV
  *     walker contract, applied to markup. Patterns stay inside the
  *     syntax both java.util.regex and RE2 interpret identically
  *     (explicit `[ \t\r\n]` classes, no `\s`/`\b`, inline `(?is)`
  *     flags, non-greedy `.*?`).
  *
  * Boilerplate removal is jusText-shaped but integer/boolean only
  * (line word counts, terminal punctuation, a keyword list, and a
  * corpus-wide line frequency — the [[LineDedup]] signal), so the
  * verdict replays exactly in SQL with no float thresholds.
  */
object HtmlExtract {

  /** Structural strip steps, applied first and in order. Replacement
    * "\n" marks a BLOCK boundary (rendered `chr(10)` in SQL).
    */
  val TagSteps: Seq[(String, String)] = Seq(
    // comments go first: commented-out markup must not re-enter
    ("(?s)<!--.*?-->", " "),
    // script/style drop their PAYLOAD too (non-greedy to the matching
    // close tag); attribute tails allowed after the tag name
    ("(?is)<script(?:[ \\t\\r\\n/][^>]*)?>.*?</script[ \\t\\r\\n]*>", " "),
    ("(?is)<style(?:[ \\t\\r\\n/][^>]*)?>.*?</style[ \\t\\r\\n]*>", " "),
    // block-level tags (open, close, or self-closed) break lines
    ("(?i)</?(?:p|div|h[1-6]|ul|ol|li|table|tr|td|th|blockquote|pre|br|hr|" +
      "section|article|header|footer|nav|title)(?:[ \\t\\r\\n/][^>]*)?>", "\n"),
    // every remaining tag is inline: a space, so words don't fuse
    ("<[^>]*>", " "))

  /** Fixed named-entity decode set (post tag-strip, `&amp;` LAST).
    * Patterns are literal (regex-safe) sequences.
    */
  val EntitySteps: Seq[(String, String)] = Seq(
    ("&nbsp;", " "),
    ("&quot;", "\""),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"))

  /** Whitespace assembly: collapse intra-line runs, tighten around
    * breaks, collapse break runs, trim the document.
    */
  val SpaceSteps: Seq[(String, String)] = Seq(
    ("[ \\t\\r]+", " "),
    ("[ ]*\\n[ ]*", "\n"),
    ("\\n+", "\n"),
    ("^[\\n ]+|[\\n ]+$", ""))

  /** The full ordered pipeline. */
  val AllSteps: Seq[(String, String)] = TagSteps ++ EntitySteps ++ SpaceSteps

  /** Extracted text of an HTML column — one codegen'd projection
    * (a fold of native `regexp_replace`, no UDF).
    */
  def extract(html: Column): Column =
    AllSteps.foldLeft(html) { case (c, (pat, repl)) => regexp_replace(c, pat, repl) }

  /** Pure-Scala reference of [[extract]] for property/fuzz specs —
    * derived from the SAME step list, so the spec proves the Column
    * pipeline wires the steps faithfully.
    */
  def extractString(html: String): String =
    AllSteps.foldLeft(html) { case (s, (pat, repl)) =>
      s.replaceAll(pat, java.util.regex.Matcher.quoteReplacement(repl))
    }

  /** DuckDB replay of [[extract]] over a SQL expression — generated
    * from the same step list (the oracle and the engine cannot drift
    * apart without the hash gate seeing it). RE2 reads the identical
    * pattern text; `\n` replacements render as `chr(10)` because RE2's
    * rewrite string (unlike a pattern) has no escape language.
    */
  def duckdbExtractSql(expr: String): String =
    AllSteps.foldLeft(expr) { case (acc, (pat, repl)) =>
      val r =
        if (repl == "\n") "chr(10)"
        else "'" + repl.replace("'", "''") + "'"
      s"regexp_replace($acc, '${pat.replace("'", "''")}', $r, 'g')"
    }

  /** href/src link targets in document order — the LINK-GRAPH input
    * (the corpus signal [[PageRank]] domain ranking consumes) — and
    * the registrable host of each: harvested BEFORE tag stripping with
    * one codegen'd `regexp_extract_all` per attribute (patterns in the
    * java.util.regex ∩ RE2 common syntax, double-quoted attributes —
    * the form the fixture and real exporters emit). Returns one row
    * per link: (idCol, link_no, url, host) with `link_no` the 0-based
    * document-order position (hrefs first, then srcs) and `host` empty
    * for relative links.
    */
  def links(docs: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val hrefs = regexp_extract_all(col(htmlCol), lit("href=\"([^\"]*)\""), lit(1))
    val srcs = regexp_extract_all(col(htmlCol), lit("src=\"([^\"]*)\""), lit(1))
    docs
      .select(col(idCol), posexplode(concat(hrefs, srcs)).as(Seq("link_no", "url")))
      .withColumn("host",
        regexp_extract(col("url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
  }

  /** Boilerplate keyword regex (lowercased line; literal alternation —
    * identical under java.util.regex and RE2).
    */
  val BoilerKeywords: String =
    "copyright|all rights reserved|privacy policy|terms of (use|service)|" +
      "cookie|subscribe|sign up|log in|skip to content"

  /** Words on an extracted line (single-spaced by construction):
    * 0 for empty, else separator count + 1 — integer arithmetic that
    * replays exactly (DuckDB's str_split on a space agrees).
    */
  private def lineWords(line: Column): Column =
    when(length(line) === 0, lit(0L))
      .otherwise(size(split(line, " ")).cast("long"))

  /** Per-line boilerplate verdict given the line and how many DISTINCT
    * documents the line occurs in corpus-wide: navigation/footer
    * keywords, short fragments with no terminal punctuation, and
    * template lines repeated across >= `minDocs` documents.
    */
  private def isBoilerplate(line: Column, docFreq: Column, minDocs: Long): Column =
    lower(line).rlike(BoilerKeywords) ||
      (lineWords(line) <= 3 && !line.rlike("[.!?]$")) ||
      docFreq >= minDocs

  /** Line-level boilerplate removal over EXTRACTED text: split to
    * lines, flag by [[isBoilerplate]] (the corpus-frequency signal is
    * one map-combinable `count(distinct)` group-by on the line value —
    * the [[LineDedup]] shuffle shape: line strings, not documents),
    * and reassemble each document from its kept lines in order.
    * Returns (id, text, n_lines, n_boiler).
    */
  def removeBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long = 5L): DataFrame = {
    val lines = docs
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val freq = lines.groupBy(col("__line"))
      .agg(countDistinct(col("__id")).as("__nd"))
    val flagged = lines.join(freq, Seq("__line"))
      .withColumn("__boiler", isBoilerplate(col("__line"), col("__nd"), minDocs))
    flagged.groupBy(col("__id"))
      .agg(
        coalesce(
          array_join(
            filter(
              transform(
                array_sort(collect_list(struct(col("__pos"),
                  when(col("__boiler"), lit(null: String))
                    .otherwise(col("__line")).as("__l")))),
                st => st.getField("__l")),
              x => x.isNotNull),
            "\n"),
          lit("")).as("text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .select(col("__id").as(idCol), col("text"), col("n_lines"), col("n_boiler"))
  }
}
