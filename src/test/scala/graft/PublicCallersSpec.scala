package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Finds the public members of `src/main` that nothing names: a public
  * `def`, `class`, `object` or `trait` whose name occurs in no other
  * file under `src/main`, `src/test`, `perfbench/scala` or `tools`, and
  * not in README.md.
  *
  * Exempt are `private`, `private[...]`, `protected`, `override` and
  * `implicit` members, members of a non-public or local scope, and
  * `main`, `apply` and `unapply`. A type counts as named when the
  * signature of another public member of its own file names it (a
  * result row type, a parameter type, a parent). The match is by
  * identifier, outside comments and string literals of the declaring
  * file only: a name that another file mentions anywhere counts as a
  * caller, so the scan under-reports and never flags a used member.
  */
object CallerScan {

  final case class Finding(file: String, line: Int, kind: String, name: String)

  private final case class Decl(
      name: String, kind: String, mods: String, line: Int, visible: Boolean, signature: String) {
    def isPrivate: Boolean = """\b(private|protected)\b""".r.findFirstIn(mods).isDefined
    def exempt: Boolean = isPrivate || """\b(override|implicit)\b""".r.findFirstIn(mods).isDefined ||
      Set("main", "apply", "unapply")(name)
  }

  private val Modifier =
    """(?:(?:private|protected)\s*(?:\[\s*[\w.]+\s*\])?|override|final|implicit|sealed|abstract|case|lazy|@\w+(?:\([^)\n]*\))?)"""
  private val Declaration = ("((?:" + Modifier + """\s+)*)\b(def|class|object|trait)\s+([A-Za-z_]\w*)""").r
  private val CharLiteral = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
  private val Identifier = """[A-Za-z_]\w*""".r

  /** `src` with comments and string and char literals blanked out
    * (newlines kept, so offsets and line numbers hold). */
  def strip(src: String): String = {
    val n = src.length
    val out = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val end =
        if (src.startsWith("//", i)) { val e = src.indexOf('\n', i); if (e < 0) n else e }
        else if (src.startsWith("/*", i)) {
          var depth = 1; var k = i + 2
          while (k < n && depth > 0) {
            if (src.startsWith("/*", k)) { depth += 1; k += 2 }
            else if (src.startsWith("*/", k)) { depth -= 1; k += 2 }
            else k += 1
          }
          k
        } else if (src.startsWith("\"\"\"", i)) {
          val e = src.indexOf("\"\"\"", i + 3)
          var k = if (e < 0) n else e + 3
          while (k < n && src.charAt(k) == '"') k += 1
          k
        } else if (src.charAt(i) == '"') {
          var k = i + 1
          while (k < n && src.charAt(k) != '"' && src.charAt(k) != '\n')
            k += (if (src.charAt(k) == '\\') 2 else 1)
          k + 1
        } else if (src.charAt(i) == '\'')
          CharLiteral.findPrefixMatchOf(src.substring(i, math.min(i + 8, n))).fold(i)(i + _.end)
        else i
      if (end > i) {
        (i until math.min(end, n)).foreach(k => out += (if (src.charAt(k) == '\n') '\n' else ' '))
        i = end
      } else { out += src.charAt(i); i += 1 }
    }
    out.toString
  }

  /** Where a declaration's header ends: the first `{`, `}` or `=` outside
    * parentheses and brackets, or a line break that no `extends`,
    * `with`, `(` or `:` continues. Returns the end and whether a `{`
    * opens there. */
  private def headerEnd(code: String, from: Int): (Int, Boolean) = {
    var depth = 0
    var k = from
    while (k < code.length) {
      code.charAt(k) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case '{' if depth == 0 => return (k, true)
        case '}' if depth == 0 => return (k, false)
        case '=' if depth == 0 && k + 1 < code.length && !"=>".contains(code.charAt(k + 1)) => return (k, false)
        case '\n' if depth == 0 =>
          var r = k + 1
          while (r < code.length && code.charAt(r).isWhitespace) r += 1
          if (!Seq("extends", "with", "(", ":").exists(code.startsWith(_, r))) return (k, false)
        case _ =>
      }
      k += 1
    }
    (k, false)
  }

  /** Declarations of one file, with their visibility: a member is
    * visible when every enclosing scope is a public template (no
    * method body, no private class or object). */
  private def declarations(source: String): Seq[Decl] = {
    val code = strip(source)
    val decls = Declaration.findAllMatchIn(code).toSeq
    val templates = mutable.Map.empty[Int, Boolean] // brace offset -> public template
    val scopes = mutable.Stack.empty[Option[Boolean]] // Some(public) = template, None = block
    val out = mutable.ArrayBuffer.empty[Decl]
    var next = 0
    var line = 1
    for (i <- 0 until code.length) {
      while (next < decls.size && decls(next).start == i) {
        val m = decls(next)
        val (end, opens) = headerEnd(code, m.end)
        val visible = scopes.forall(_.contains(true))
        val d = Decl(m.group(3), m.group(2), m.group(1), line, visible, code.substring(m.end, end))
        out += d
        if (d.kind != "def" && opens) templates(end) = visible && !d.isPrivate
        next += 1
      }
      code.charAt(i) match {
        case '{' => scopes.push(templates.remove(i))
        case '}' => if (scopes.nonEmpty) scopes.pop()
        case '\n' => line += 1
        case _ =>
      }
    }
    out.toSeq
  }

  private def sources(root: Path, dir: String, exts: Set[String]): Seq[Path] = {
    val d = root.resolve(dir)
    if (!Files.isDirectory(d)) Nil
    else Files.walk(d).iterator().asScala
      .filter(p => Files.isRegularFile(p) && exts.exists(e => p.toString.endsWith(e))).toSeq.sorted
  }

  /** Public declarations of `src/main` under `root`, and those of them
    * that nothing names. */
  def scan(root: Path): (Int, Seq[Finding]) = {
    val main = sources(root, "src/main", Set(".scala"))
    val others = Seq("src/test", "perfbench/scala", "tools")
      .flatMap(sources(root, _, Set(".scala", ".java", ".py", ".sh")))
    val text = (main ++ others).map(p => p -> Files.readString(p)).toMap
    val filesNaming = mutable.Map.empty[String, mutable.Set[Path]]
    for ((p, t) <- text; w <- Identifier.findAllIn(t)) filesNaming.getOrElseUpdate(w, mutable.Set.empty) += p
    val readme = root.resolve("README.md")
    val readmeWords =
      if (Files.exists(readme)) Identifier.findAllIn(Files.readString(readme)).toSet else Set.empty[String]
    var publicCount = 0
    val findings = main.flatMap { file =>
      val decls = declarations(text(file))
      val exported = decls.filter(d => d.visible && !d.isPrivate)
        .map(d => d -> Identifier.findAllIn(d.signature).toSet)
      decls.filter(d => d.visible && !d.exempt).filter { d =>
        publicCount += 1
        val named = filesNaming.get(d.name).exists(_.exists(_ != file)) || readmeWords(d.name) ||
          (d.kind != "def" && exported.exists { case (o, words) => (o ne d) && words(d.name) })
        !named
      }.map(d => Finding(root.relativize(file).toString, d.line, d.kind, d.name))
    }
    (publicCount, findings)
  }
}

/** Every public entry point of `src/main` has a caller: a member that
  * only its own file uses is `private`, and one that nothing uses is
  * deleted. */
class PublicCallersSpec extends AnyFunSuite {

  test("every public def, class and object in src/main is named outside its file") {
    val root = Paths.get("")
    assert(Files.isDirectory(root.resolve("src/main/scala")),
      s"run from the repository root, not ${root.toAbsolutePath}")
    val (publicCount, findings) = CallerScan.scan(root)
    info(s"$publicCount public declarations scanned")
    assert(publicCount > 500)
    if (findings.nonEmpty)
      fail(s"${findings.size} public declarations that nothing names (make them private or delete them):\n" +
        findings.map(f => s"  ${f.file}:${f.line} ${f.kind} ${f.name}").mkString("\n"))
  }

  test("the scanner reports the one unused def of a planted tree") {
    val root = Files.createTempDirectory("callers")
    def write(rel: String, body: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
    }
    write("src/main/scala/p/Planted.scala",
      """package p
        |
        |/** def plantedInDoc: a comment declares nothing. */
        |object Planted {
        |  final case class PlantedRow(a: Int)
        |  def plantedCalled(x: Int): Seq[PlantedRow] = Seq(PlantedRow(x))
        |  def plantedNeverCalled(x: Int): Int = plantedLocal(x) + "plantedReadme".length
        |  private def plantedLocal(x: Int): Int = { def plantedInner(y: Int) = y; plantedInner(x) }
        |  private[p] def plantedQualified: Int = 1
        |  override def toString: String = "Planted"
        |  def apply(x: Int): Int = x
        |  def main(args: Array[String]): Unit = ()
        |  def plantedReadme: Int = 2
        |  private object Hidden { def plantedHiddenMember: Int = 3 }
        |  val s = "def plantedInString = 1"
        |}
        |""".stripMargin)
    write("src/test/scala/p/PlantedSpec.scala",
      "package p\nclass PlantedSpec { Planted.plantedCalled(1) }\n")
    write("README.md", "`Planted.plantedReadme` is public API.\n")
    val (publicCount, findings) =
      try CallerScan.scan(root)
      finally Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    assert(findings == Seq(CallerScan.Finding("src/main/scala/p/Planted.scala", 7, "def", "plantedNeverCalled")))
    // Planted, PlantedRow, plantedCalled, plantedNeverCalled, plantedReadme
    assert(publicCount == 5)
  }
}
