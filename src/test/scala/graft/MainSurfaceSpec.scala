package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level object in the main sources has a caller there: some
  * main source names it outside comments and its own `object` line, or its
  * file defines a `main`. An object that only specs call is library
  * surface nothing runs; give it a caller on the pipeline's path or delete
  * it. The allow-list names the objects kept without a caller until a
  * decision about them is made, each with where that decision is tracked.
  */
class MainSurfaceSpec extends AnyFunSuite {

  // top-level object -> why it stays without a caller
  private val allowed = Map("SkewJoins" -> "ROADMAP item 11")

  private val topObject = """^(?:(?:private|protected)(?:\[\w+\])?\s+|case\s+)*object\s+(\w+)""".r
  private val mainDef = """\bdef\s+main\s*\(""".r

  test("every top-level object in src/main has a caller or is a main") {
    val sources = SourceScan.sources
    val objects = for {
      (file, lines) <- sources
      i <- lines.indices
      m <- topObject.findFirstMatchIn(lines(i))
    } yield (m.group(1), file, i)
    assert(objects.exists(_._1 == "KgQueries"), "the object scan found nothing")
    val mains = sources.collect { case (f, lines) if lines.exists(mainDef.findFirstIn(_).isDefined) => f }.toSet
    def named(name: String, file: String, line: Int): Boolean = {
      val word = s"\\b$name\\b".r
      sources.exists { case (f, lines) =>
        lines.indices.exists(i => !(f == file && i == line) && word.findFirstIn(lines(i)).isDefined)
      }
    }
    val uncalled = objects.collect { case (name, file, i) if !mains(file) && !named(name, file, i) => name }
    val offenders = uncalled.filterNot(allowed.contains)
    if (offenders.nonEmpty) fail(
      offenders.mkString("top-level objects that no main code names: ", ", ", "") +
        uncalled.filter(allowed.contains).map(o => s"$o (${allowed(o)})").mkString("; allowed: ", ", ", "") +
        ". Give each a caller or delete it.")
    // the allow-list is live: each entry is still an object without a caller
    val stale = allowed.keySet -- uncalled
    assert(stale.isEmpty, stale.mkString("allow-list entries that now have a caller or are gone: ", ", ", ""))
  }
}
