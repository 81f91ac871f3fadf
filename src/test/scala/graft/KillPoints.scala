package graft

import java.io.File
import java.nio.file.Files

import graft.sources.StagedSwap

/** Kill injection for the [[StagedSwap]] commit protocol: a throwing
  * failpoint hook stands in for a writer killed at that point.
  */
object KillPoints {

  final class InjectedCrash(point: String) extends RuntimeException(s"injected crash at $point")

  /** Every failpoint [[StagedSwap.commit]] passes, in protocol order. */
  val All: Seq[String] = Seq("staged", "manifest", "backed-up", "mid-swap", "pre-commit")

  /** Run `body` with a kill at `point`; fails if the kill never fires. */
  def crashingAt(point: String)(body: => Any): Unit = {
    StagedSwap.Failpoints.hook = p => if (p == point) throw new InjectedCrash(p)
    try {
      val fired =
        try { body; false }
        catch { case _: InjectedCrash => true }
      assert(fired, s"failpoint $point never fired")
    } finally StagedSwap.Failpoints.hook = _ => ()
  }

  /** Every file under `dir` (relative path -> content hash): equal
    * snapshots mean the same files, bit for bit.
    */
  def snapshot(dir: String): Map[String, Int] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else if (f.exists()) Seq(f) else Nil
    walk(new File(dir))
      .map(f => f.getAbsolutePath.stripPrefix(dir) -> java.util.Arrays.hashCode(Files.readAllBytes(f.toPath)))
      .toMap
  }

  /** The protocol state left at the store `root`: its `__staging` and
    * `__backup` siblings and any manifest inside it.
    */
  def debris(root: String): Seq[String] = {
    val r = new File(root)
    val siblings = Option(r.getParentFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n == s"${r.getName}__staging" || n == s"${r.getName}__backup")
    siblings ++ Option(r.listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith("_graft_txn"))
  }
}
