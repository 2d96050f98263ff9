package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The cache lifecycle has one owner, [[graft.tables.Checkpoints]]: this
  * spec scans the main sources and fails on any `.persist(`, `.cache()` or
  * `.unpersist(` outside it. The allowed exceptions are caches whose
  * lifetime is not one operator call: a stage's output inside
  * `Lineage.commit`, and the caller-owned frames of
  * `KeywordSearch.index` / `KeywordSearch.Index` (the serving index) and
  * of `ConnectedComponents.runIncremental(materializeResult = false)`
  * (the plan-inspection seam).
  */
class CacheOwnerSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val cacheCall = """\.(?:persist|unpersist)\(|\.cache\(\)""".r
  private val definition = """\b(?:def|class|object|trait)\s+(\w+)""".r
  // file under `root` -> the definitions allowed to manage a cache (empty: all)
  private val allowed = Map(
    "graft/tables/Checkpoints.scala" -> Set.empty[String],
    "graft/tables/Lineage.scala" -> Set("commit"),
    "graft/operators/KeywordSearch.scala" -> Set("index", "Index"),
    "graft/canon/ConnectedComponents.scala" -> Set("runIncremental"))

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

  /** (file, line number, line, allowed) for every cache call in `root`. */
  private def cacheCalls: Seq[(String, Int, String, Boolean)] =
    Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { p =>
        val file = root.relativize(p).toString
        val lines = Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices
          .filter(i => !isComment(lines(i)) &&
            cacheCall.findFirstIn(lines(i).split("//", 2)(0)).isDefined)
          .map { i =>
            val ok = allowed.get(file).exists(defs => defs.isEmpty || enclosing(lines, i).exists(defs))
            (file, i + 1, lines(i).trim, ok)
          }
      }

  test("only Checkpoints, Lineage.commit and the caller-owned frames manage caches") {
    val calls = cacheCalls
    // the scan is live: every allowed place is found
    allowed.keys.foreach { f =>
      assert(calls.exists(c => c._1 == f && c._4), s"no cache call found in $f")
    }
    val offenders = calls.filterNot(_._4).map { case (f, n, l, _) => s"$f:$n: $l" }
    assert(offenders.isEmpty, offenders.mkString(
      "cache calls outside graft.tables.Checkpoints (hold them in a superstep scope):\n", "\n", ""))
  }
}
