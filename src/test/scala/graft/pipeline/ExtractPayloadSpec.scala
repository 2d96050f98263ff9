package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** `PagesGen.extractPayload` finds its markers in a one-byte-per-char view
  * and decodes only the payload's bytes. This spec checks it against the
  * form it replaced, kept here as an oracle: decode the whole page as
  * UTF-8, then cut the payload out of the string. Pages are seeded byte
  * soup with valid multi-byte chars and malformed UTF-8 on both sides of
  * each marker.
  */
class ExtractPayloadSpec extends AnyFunSuite {

  private val open = """<script id="wd-entity" type="application/json">"""
  private val close = "</script>"

  /** The replaced decode: the whole page, then a substring. */
  private def oracle(html: Array[Byte]): Option[String] = {
    val s = new String(html, UTF_8)
    val start = s.indexOf(open)
    if (start < 0) None
    else {
      val from = start + open.length
      val end = s.indexOf(close, from)
      if (end < 0) None else Some(s.substring(from, end))
    }
  }

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // truncated sequences, lone continuations, invalid lead bytes, an
  // overlong '<', an encoded surrogate
  private val malformed: Seq[Array[Byte]] = Seq(
    bytes(0xC3), bytes(0xE2, 0x82), bytes(0xF0, 0x9F, 0x98), bytes(0x80), bytes(0xBF, 0x80),
    bytes(0xFF), bytes(0xFE), bytes(0xC0, 0xBC), bytes(0xE0, 0x80, 0xBC), bytes(0xED, 0xA0, 0x80),
    bytes(0xF4, 0x90, 0x80, 0x80), bytes(0xC3, 0xC3))
  private val valid: Seq[Array[Byte]] =
    Seq("a", "{\"k\":1}", " ", "<", ">", "é", "日本", "😀", "ا", "İ", "<script>", "</scr")
      .map(_.getBytes(UTF_8))

  private def soup(rnd: scala.util.Random, n: Int): Array[Byte] =
    Array.concat(Seq.fill(n) {
      if (rnd.nextInt(3) == 0) malformed(rnd.nextInt(malformed.size)) else valid(rnd.nextInt(valid.size))
    }: _*)

  private def check(html: Array[Byte]): Unit = {
    val want = oracle(html)
    assert(PagesGen.extractPayload(html) == want, s"page ${html.map(b => f"${b & 0xFF}%02x").mkString(" ")}")
  }

  test("extractPayload == decoding the whole page, on seeded byte soup") {
    val rnd = new scala.util.Random(83)
    val o = open.getBytes(UTF_8)
    val c = close.getBytes(UTF_8)
    def bad() = malformed(rnd.nextInt(malformed.size))
    var payloads = 0
    (0 until 3000).foreach { round =>
      val html = round % 6 match {
        // malformed bytes right before each marker and as the payload's last bytes
        case 0 => Array.concat(soup(rnd, rnd.nextInt(6)), bad(), o, soup(rnd, rnd.nextInt(8)), bad(), c,
          soup(rnd, rnd.nextInt(6)))
        // multi-byte chars inside and outside the payload
        case 1 => Array.concat(soup(rnd, rnd.nextInt(6)), o, soup(rnd, 1 + rnd.nextInt(8)), c, soup(rnd, rnd.nextInt(6)))
        // no end marker
        case 2 => Array.concat(soup(rnd, rnd.nextInt(6)), o, soup(rnd, rnd.nextInt(8)), bad())
        // two payload scripts: the first one wins
        case 3 => Array.concat(soup(rnd, rnd.nextInt(4)), o, soup(rnd, rnd.nextInt(6)), bad(), c,
          soup(rnd, rnd.nextInt(4)), o, soup(rnd, rnd.nextInt(6)), c)
        // empty payload
        case 4 => Array.concat(soup(rnd, rnd.nextInt(6)), bad(), o, c, bad())
        // no start marker, or one cut by a malformed byte
        case _ =>
          val cut = 1 + rnd.nextInt(o.length - 1)
          Array.concat(soup(rnd, rnd.nextInt(6)), o.take(cut), bad(), o.drop(cut), soup(rnd, rnd.nextInt(6)), c)
      }
      if (oracle(html).nonEmpty) payloads += 1
      check(html)
    }
    assert(payloads > 1500) // most rounds carry a payload: the comparison is not vacuous
  }

  test("edge pages: empty, markers only, payload at the very end of the bytes") {
    Seq("", open, close, open + close, open + "x", open + "é" + close, close + open + "a" + close,
      open + open + close).foreach(p => check(p.getBytes(UTF_8)))
    check(Array.concat(open.getBytes(UTF_8), bytes(0xE2, 0x82), close.getBytes(UTF_8)))
    check(Array.concat(bytes(0xF0, 0x9F), open.getBytes(UTF_8), bytes(0xC3), close.getBytes(UTF_8), bytes(0xE2)))
  }
}
