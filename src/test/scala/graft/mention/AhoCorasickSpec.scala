package graft.mention

import org.scalatest.funsuite.AnyFunSuite

class AhoCorasickSpec extends AnyFunSuite {

  test("finds leftmost-longest non-overlapping mentions with candidates") {
    val ac = AhoCorasick.build(Seq(
      "Berlin" -> Seq("Q64"),
      "Berlin Wall" -> Seq("Q5086"),
      "Wall" -> Seq("Q42"),
      "in" -> Seq("Q999")))
    val ms = ac.findMentions("the Berlin Wall stood in Berlin")
    assert(ms == Seq(
      Mention("Berlin Wall", Seq("Q5086"), 4, 15),
      Mention("in", Seq("Q999"), 22, 24),
      Mention("Berlin", Seq("Q64"), 25, 31)))
  }

  test("word boundaries: no match inside larger words") {
    val ac = AhoCorasick.build(Seq("fix" -> Seq("Q1"), "Fixture" -> Seq("Q2")))
    val ms = ac.findMentions("prefix Fixture fixtures fix.")
    assert(ms == Seq(Mention("Fixture", Seq("Q2"), 7, 14), Mention("fix", Seq("Q1"), 24, 27)))
  }

  test("ambiguous surface returns all candidate QIDs") {
    val ac = AhoCorasick.build(Seq("Alias7" -> Seq("Q1", "Q2", "Q3")))
    val ms = ac.findMentions("see Alias7 here")
    assert(ms.head.qids == Seq("Q1", "Q2", "Q3"))
  }

  // the matcher's boundary rule: a match must not continue a word on a
  // side where the pattern itself ends in a word char
  private def isW(c: Char) = Character.isLetterOrDigit(c)
  private def okAt(text: String, p: String, i: Int): Boolean =
    text.startsWith(p, i) &&
      (i == 0 || !isW(text(i - 1)) || !isW(p.head)) &&
      (i + p.length >= text.length || !isW(text(i + p.length)) || !isW(p.last))

  /** Every boundary-filtered match, by end ascending, longest first. */
  private def naiveRaw(pats: Seq[String], text: String): Seq[(Int, Int, String)] =
    (for (i <- 0 until text.length; p <- pats if okAt(text, p, i)) yield (i, i + p.length, p))
      .sortBy { case (b, e, _) => (e, b - e) }

  /** Greedy leftmost-longest over a left-to-right scan. */
  private def naiveLeftmostLongest(pats: Seq[String], text: String): Seq[(Int, Int, String)] = {
    val naive = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < text.length) {
      pats.filter(okAt(text, _, i)).sortBy(-_.length).headOption match {
        case Some(p) => naive += ((i, i + p.length, p)); i += p.length
        case None => i += 1
      }
    }
    naive.toSeq
  }

  private def spans(ms: Seq[Mention]) = ms.map(m => (m.begin, m.end, m.surface))

  test("property: matches agree with a naive leftmost-longest scan (seeded fuzz)") {
    val rnd = new java.util.Random(42)
    def randStr(len: Int, alphabet: String): String =
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString

    (0 until 300).foreach { _ =>
      val pats = (0 until 2 + rnd.nextInt(5))
        .map(_ => randStr(1 + rnd.nextInt(4), "ab")).distinct
      val text = randStr(10 + rnd.nextInt(60), "ab ab ") // spaces mixed in
      val ac = AhoCorasick.build(pats.map(p => p -> Seq("X")))
      val got = spans(ac.findMentions(text))
      assert(got == naiveLeftmostLongest(pats, text), s"pats=$pats text='$text'")
    }
  }

  test("property: raw and resolved matches agree with naive scans over wide alphabets (seeded fuzz)") {
    val rnd = new java.util.Random(7)
    // letters past ASCII (é, Arabic alef, dotted capital I), digits, '_'
    // (not a word char to the boundary rule) and separators
    val alphabets = Seq("ab", "aé9_", "a\u0627\u0130 _", "ab1_-. ", "é\u0627\u0130ab09_ .")
    def randStr(len: Int, alphabet: String): String =
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString

    (0 until 600).foreach { round =>
      val alphabet = alphabets(round % alphabets.size)
      val base = (0 until 1 + rnd.nextInt(4)).map(_ => randStr(1 + rnd.nextInt(5), alphabet))
      // nested suffixes of one long pattern: the output walk follows a long fail chain
      val long = randStr(4 + rnd.nextInt(4), alphabet)
      val nested = (1 until long.length).filter(_ => rnd.nextInt(3) > 0).map(long.substring)
      val pats = (base ++ nested :+ long).distinct
      val body = randStr(rnd.nextInt(50), alphabet + " ")
      // patterns at the very start and end of the text
      val text = (if (rnd.nextBoolean()) pats(rnd.nextInt(pats.size)) else "") + body +
        (if (rnd.nextBoolean()) pats(rnd.nextInt(pats.size)) else "")
      val ac = AhoCorasick.build(pats.zipWithIndex.map { case (p, i) => p -> Seq(s"Q$i") })
      val ctx = s"pats=${pats.map(_.toSeq)} text=${text.toSeq}"

      val raw = ac.findRawMentions(text)
      assert(spans(raw) == naiveRaw(pats, text), ctx)
      assert(raw.forall(m => m.qids == Seq(s"Q${pats.indexOf(m.surface)}")), ctx)
      val resolved = ac.findMentions(text)
      assert(resolved == AhoCorasick.resolveLeftmostLongest(raw), ctx)
      assert(spans(resolved) == naiveLeftmostLongest(pats, text), ctx)
    }
  }

  test("raw matches of nested suffixes come out longest first at each end") {
    // after "xb-a" the fail chain is "b-a" (a prefix of "b-ab", no output),
    // then "-a" and "a": the output walk reports three of its four nodes
    val ac = AhoCorasick.build(Seq("xb-a", "b-ab", "-a", "a").map(p => p -> Seq(p)))
    val text = "xb-a b-ab"
    assert(spans(ac.findRawMentions(text)) ==
      Seq((0, 4, "xb-a"), (2, 4, "-a"), (3, 4, "a"), (5, 9, "b-ab")))
    assert(spans(ac.findMentions(text)) == Seq((0, 4, "xb-a"), (5, 9, "b-ab")))
  }
}
