package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cache lifecycle has one owner, [[graft.tables.Checkpoints]]: this
  * spec scans the main sources and fails on any `.persist(`, `.cache()` or
  * `.unpersist(` outside it. The allowed exceptions are caches whose
  * lifetime is not one operator call: a stage's output inside
  * `Lineage.commit`, and the caller-owned frames of
  * `KeywordSearch.index` / `KeywordSearch.Index` (the serving index).
  */
class CacheOwnerSpec extends AnyFunSuite {

  private val cacheCall = """\.(?:persist|unpersist)\(|\.cache\(\)""".r
  // file under src/main/scala -> the definitions allowed to manage a cache (empty: all)
  private val allowed = Map(
    "graft/tables/Checkpoints.scala" -> Set.empty[String],
    "graft/tables/Lineage.scala" -> Set("commit"),
    "graft/operators/KeywordSearch.scala" -> Set("index", "Index"))

  test("only Checkpoints, Lineage.commit and the caller-owned frames manage caches") {
    val calls = SourceScan.calls(cacheCall, allowed)
    // the scan is live: every allowed place is found
    allowed.keys.foreach { f =>
      assert(calls.exists(c => c.file == f && c.allowed), s"no cache call found in $f")
    }
    val offenders = calls.filterNot(_.allowed)
    assert(offenders.isEmpty, offenders.mkString(
      "cache calls outside graft.tables.Checkpoints (hold them in a superstep scope):\n", "\n", ""))
  }
}
