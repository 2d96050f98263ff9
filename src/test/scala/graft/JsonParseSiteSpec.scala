package graft

import org.scalatest.funsuite.AnyFunSuite

/** JSON is parsed once per row: `WikidataJson.parseLine` reads a dump line,
  * and `normalize` decodes each claim value from that tree into its typed
  * fields. This spec scans the main sources and fails on any `readTree`
  * outside the sites that parse something other than a row's value: the
  * line parse itself, `MergeTable`'s snapshot manifests, `ScalingBench`'s
  * measure files, and `HfExport`'s label-map values (JSON strings, since
  * they cross a shuffle as strings).
  */
class JsonParseSiteSpec extends AnyFunSuite {

  private val parseCall = """\breadTree\b""".r // a call or a method value
  // file under src/main/scala -> the definitions allowed to parse JSON
  private val allowed = Map(
    "graft/model/WikidataJson.scala" -> Set("parseLine"),
    "graft/tables/MergeTable.scala" -> Set("parseManifest"),
    "graft/ScalingBench.scala" -> Set("readJson"),
    "graft/export/HfExport.scala" -> Set("renderRows"))

  test("only the line parse, manifests, measure files and label maps parse JSON") {
    val calls = SourceScan.calls(parseCall, allowed)
    // the scan is live: every allowed place is found
    allowed.keys.foreach { f =>
      assert(calls.exists(c => c.file == f && c.allowed), s"no readTree call found in $f")
    }
    val offenders = calls.filterNot(_.allowed)
    assert(offenders.isEmpty, offenders.mkString(
      "JSON parsed again outside the allowed sites (read the decoded fields instead):\n", "\n", ""))
  }
}
