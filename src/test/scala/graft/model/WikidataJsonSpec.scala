package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** Dump-line parsing details of [[WikidataJson]]. */
class WikidataJsonSpec extends AnyFunSuite {

  /** The two-reverse form the index-scan trim replaced. */
  private def reverseTrim(line: String): String =
    line.dropWhile(c => "[] ,\n\r\t".indexOf(c) >= 0)
      .reverse.dropWhile(c => "[] ,\n\r\t".indexOf(c) >= 0).reverse

  test("trimLine strips dump wrappers exactly as the two-reverse form did") {
    val item = """{"id": "Q1", "labels": {"en": {"value": "a [b], c"}}}"""
    val lines = Seq("", "[] ,\n\r\t", " ,[\t]\n", s"[$item,\n", s"  $item]", item, "x", " x ")
    lines.foreach(l => assert(WikidataJson.trimLine(l) == reverseTrim(l), s"line ${l.toSeq}"))
    val chars = "[] ,\n\r\tab{}\""
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val l = Seq.fill(rnd.nextInt(12))(chars.charAt(rnd.nextInt(chars.length))).mkString
      assert(WikidataJson.trimLine(l) == reverseTrim(l), s"line ${l.toSeq}")
    }
    assert(WikidataJson.parseLine(s"[$item,\n").map(_.get("id").asText()).contains("Q1"))
    assert(WikidataJson.parseLine("BROKEN LINE").isEmpty)
    // a dump-shaped file: wrapper lines and a bad row drop, a label falls back to mul
    val q1 = """{"id":"Q1","labels":{"en":{"value":"one"}},"descriptions":{},"aliases":{},"claims":{}}"""
    val q2 = """{"id":"Q2","labels":{"mul":{"value":"two"}},"descriptions":{},"aliases":{},"claims":{}}"""
    val dump = s"[\n$q1,\nBROKEN LINE\n$q2,\n]\n"
    val es = dump.split("\n").toSeq.flatMap(WikidataJson.parseLine).map(WikidataJson.normalize(_, "en"))
    assert(es.map(e => (e.id, e.label)) == Seq(("Q1", "one"), ("Q2", "two")))
  }
}
