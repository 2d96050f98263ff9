package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A line scan of the main sources: for a call that only a few owners may
  * make (`CacheOwnerSpec`, `JsonParseSiteSpec`), and for the names the code
  * uses (`MainSurfaceSpec`). Comment lines and trailing `//` comments are
  * skipped.
  */
object SourceScan {

  /** One call: its file under `src/main/scala`, line number, trimmed text,
    * and whether an allowed definition encloses it.
    */
  final case class Call(file: String, line: Int, text: String, allowed: Boolean) {
    override def toString: String = s"$file:$line: $text"
  }

  private val root = Paths.get("src/main/scala")
  private val definition = """\b(?:def|class|object|trait)\s+(\w+)""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  /** The definitions enclosing line `i`, innermost first: each is the
    * nearest definition line above that is indented less than the last
    * one found (a definition on line `i` itself encloses it).
    */
  private def enclosing(lines: IndexedSeq[String], i: Int): List[String] = {
    var indent = lines(i).indexWhere(_ != ' ') + 1
    (i to 0 by -1).toList.flatMap { j =>
      val ind = lines(j).indexWhere(_ != ' ')
      if (ind < 0 || ind >= indent) None
      else definition.findFirstMatchIn(lines(j)).map { m => indent = ind; m.group(1) }
    }
  }

  /** Every main source file under `src/main/scala` with its lines, in path
    * order; a comment line reads as empty and a trailing `//` comment is cut.
    */
  lazy val sources: Seq[(String, IndexedSeq[String])] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map { p =>
        val code = Files.readAllLines(p).asScala.toIndexedSeq
          .map(l => if (isComment(l)) "" else l.split("//", 2)(0))
        (root.relativize(p).toString, code)
      }

  /** Every match of `call`; `allowed` maps a file under `src/main/scala` to
    * the definitions allowed to make it (empty: the whole file).
    */
  def calls(call: Regex, allowed: Map[String, Set[String]]): Seq[Call] =
    sources.flatMap { case (file, lines) =>
      lines.indices
        .filter(i => call.findFirstIn(lines(i)).isDefined)
        .map { i =>
          val ok = allowed.get(file).exists(defs => defs.isEmpty || enclosing(lines, i).exists(defs))
          Call(file, i + 1, lines(i).trim, ok)
        }
    }
}
