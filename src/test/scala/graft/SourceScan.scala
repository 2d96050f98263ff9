package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A line scan of the main sources for a call that only a few owners may
  * make (`CacheOwnerSpec`, `JsonParseSiteSpec`). Comment lines and trailing
  * `//` comments are skipped.
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
      if (ind < 0 || ind >= indent || isComment(lines(j))) None
      else definition.findFirstMatchIn(lines(j)).map { m => indent = ind; m.group(1) }
    }
  }

  /** Every match of `call`; `allowed` maps a file under `src/main/scala` to
    * the definitions allowed to make it (empty: the whole file).
    */
  def calls(call: Regex, allowed: Map[String, Set[String]]): Seq[Call] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { p =>
        val file = root.relativize(p).toString
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices
          .filter(i => !isComment(lines(i)) && call.findFirstIn(lines(i).split("//", 2)(0)).isDefined)
          .map { i =>
            val ok = allowed.get(file).exists(defs => defs.isEmpty || enclosing(lines, i).exists(defs))
            Call(file, i + 1, lines(i).trim, ok)
          }
      }
}
