package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The query table is assembled from the family objects under
  * `graft.queries`, where each query is declared once. A `Map` built
  * from those declarations would silently drop a duplicate name, and a
  * shared-oracle reference is only a string, so both are checked here.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val declared = SparkEntry.declared
  private val names = declared.map(_.name)

  private val mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private val declaration = """Query(?:\.sharing)?\(\s*"([a-z0-9_]+)"""".r

  test("queries and oracleSql hold the same 242 names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 242)
  }

  test("no query name is declared twice, within one family or across two") {
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == declared.size)
  }

  test("every shared oracle names a declared query with its own SQL") {
    val owners = declared.filter(_.sharesOracleOf.isEmpty).map(_.name).toSet
    val bad = declared.flatMap(q => q.sharesOracleOf.filterNot(owners).map(q.name -> _))
    assert(bad.isEmpty, s"shared-oracle references to no owner: ${bad.mkString(", ")}")
    assert(declared.exists(_.sharesOracleOf.nonEmpty))
  }

  test("no two queries own byte-identical oracle SQL; a duplicate uses Query.sharing") {
    val dups = declared.filter(_.sharesOracleOf.isEmpty).groupBy(_.sql).values
      .collect { case qs if qs.size > 1 => qs.map(_.name).mkString(" = ") }
    assert(dups.isEmpty, s"identical oracles owned twice: ${dups.mkString("; ")}")
  }

  test("each declaration in src/main is in the table, once; SparkEntry declares none") {
    val bySource = mainSources.flatMap { p =>
      declaration.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> p.getFileName.toString)
    }
    assert(bySource.map(_._1).sorted == names.sorted)
    val inEntry = bySource.filter(_._2 == "SparkEntry.scala").map(_._1)
    assert(inEntry.isEmpty, s"declared in SparkEntry.scala: ${inEntry.mkString(", ")}")
    val entrySrc = Files.readString(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val named = names.filter(n => entrySrc.contains("\"" + n + "\""))
    assert(named.isEmpty, s"query names in SparkEntry.scala: ${named.mkString(", ")}")
  }
}
