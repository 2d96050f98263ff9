package graft.mention

import scala.collection.mutable

/** A found mention: [begin, end) char span, matched surface, candidate QIDs. */
final case class Mention(surface: String, qids: Seq[String], begin: Int, end: Int)

/** Aho-Corasick automaton over the entity label+alias dictionary
  * (SURVEY.md §7.1 stage 2). Built once on the driver from the label
  * dimension and broadcast; matching is a linear scan per document.
  *
  * Match policy: leftmost-longest, non-overlapping, with word-boundary
  * guards (a label must not continue into adjacent letters/digits) —
  * deterministic regardless of dictionary order.
  *
  * Storage is CSR-compacted primitive arrays (edge chars/targets sorted per
  * node + binary search): a 9.2M-label dictionary serializes as a handful of
  * flat arrays instead of millions of boxed HashMaps — broadcast cost is
  * O(total chars), and matching is cache-friendly. If the dictionary
  * outgrows executor broadcast budget, shard by surface hash and run N
  * passes (SURVEY.md §7.4).
  *
  * Per-char cost: one goto transition (amortized over fail links) plus a
  * walk of the new state's fail chain for outputs. The root, where most
  * chars restart, answers ASCII chars from a 128-entry table instead of
  * the binary search; that table is the only memory on top of the CSR
  * arrays.
  */
final class AhoCorasick private (
    edgeOffsets: Array[Int],   // node -> [start, end) into edgeChars/edgeTargets
    edgeChars: Array[Char],    // sorted within each node's range
    edgeTargets: Array[Int],
    fail: Array[Int],
    outOffsets: Array[Int],    // node -> [start, end) into outPatterns
    outPatterns: Array[Int],
    patterns: Array[String],
    payloads: Array[Array[String]]) extends Serializable {

  // root transitions for ASCII chars, -1 where the root has no edge
  private val rootNext: Array[Int] = {
    val t = Array.fill(128)(-1)
    var k = edgeOffsets(0)
    while (k < edgeOffsets(1)) {
      if (edgeChars(k) < 128) t(edgeChars(k)) = edgeTargets(k)
      k += 1
    }
    t
  }

  private def step(state: Int, c: Char): Int = {
    if (state == 0 && c < 128) return rootNext(c)
    // binary search c in the node's sorted edge range
    var lo = edgeOffsets(state)
    var hi = edgeOffsets(state + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mc = edgeChars(mid)
      if (mc == c) return edgeTargets(mid)
      else if (mc < c) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  private def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c)

  /** All raw matches (begin, end, patternIdx), boundary-filtered. */
  private def rawMatches(text: String): mutable.ArrayBuffer[(Int, Int, Int)] = {
    val hits = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var state = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      var nxt = step(state, c)
      while (state != 0 && nxt < 0) { state = fail(state); nxt = step(state, c) }
      state = if (nxt >= 0) nxt else 0
      var s = state
      while (s != 0) {
        var oi = outOffsets(s)
        val oe = outOffsets(s + 1)
        while (oi < oe) {
          val p = outPatterns(oi)
          val begin = i - patterns(p).length + 1
          val okLeft = begin == 0 || !isWordChar(text.charAt(begin - 1)) || !isWordChar(patterns(p).charAt(0))
          val okRight = i + 1 >= text.length || !isWordChar(text.charAt(i + 1)) ||
            !isWordChar(patterns(p).charAt(patterns(p).length - 1))
          if (okLeft && okRight) hits += ((begin, i + 1, p))
          oi += 1
        }
        s = fail(s)
      }
      i += 1
    }
    hits
  }

  /** All boundary-filtered matches, overlap-UNresolved — the per-shard
    * primitive when the dictionary is hash-sharded across multiple passes:
    * each shard emits raw matches and [[AhoCorasick.resolveLeftmostLongest]]
    * replays the exact single-trie overlap policy over their union. Ordered
    * by end position ascending, longest first per end.
    */
  def findRawMentions(text: String): Seq[Mention] =
    rawMatches(text).map { case (b, e, p) =>
      Mention(patterns(p), payloads(p).toSeq, b, e)
    }.toSeq

  /** Leftmost-longest non-overlapping mentions. */
  def findMentions(text: String): Seq[Mention] =
    AhoCorasick.resolveLeftmostLongest(findRawMentions(text))
}

object AhoCorasick {

  /** Greedy leftmost-longest non-overlapping selection over raw matches.
    * Deterministic: distinct patterns can never share an identical (begin,
    * end) span (same span ⇒ same substring ⇒ same pattern), so the sort key
    * (begin, -length) is a total order over distinct spans.
    */
  def resolveLeftmostLongest(hits: Seq[Mention]): Seq[Mention] = {
    if (hits.isEmpty) return Seq.empty
    val sorted = hits.sortBy(m => (m.begin, -(m.end - m.begin)))
    val res = mutable.ArrayBuffer.empty[Mention]
    var lastEnd = 0
    sorted.foreach { m =>
      if (m.begin >= lastEnd) { res += m; lastEnd = m.end }
    }
    res.toSeq
  }

  /** Build from (surface → candidate QIDs). Empty surfaces are ignored. */
  def build(dictionary: Iterable[(String, Seq[String])]): AhoCorasick = {
    val entries = dictionary.filter(_._1.nonEmpty).toArray
    val patterns = entries.map(_._1)
    val payloads = entries.map(_._2.toArray)

    // phase 1: hash-map trie
    val goto = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
    val outB = mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var state = 0
      p.foreach { c =>
        goto(state).get(c) match {
          case Some(nxt) => state = nxt
          case None =>
            goto += mutable.HashMap.empty[Char, Int]
            outB += Nil
            goto(state)(c) = goto.length - 1
            state = goto.length - 1
        }
      }
      outB(state) = pi :: outB(state)
    }

    // phase 2: BFS fail links
    val n = goto.length
    val fail = Array.fill(n)(0)
    val queue = mutable.Queue.empty[Int]
    goto(0).values.foreach(queue.enqueue(_))
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      goto(r).foreach { case (c, s) =>
        queue.enqueue(s)
        var st = fail(r)
        while (st != 0 && !goto(st).contains(c)) st = fail(st)
        fail(s) = if (goto(st).contains(c) && goto(st)(c) != s) goto(st)(c) else 0
      }
    }

    // phase 3: CSR compaction
    val edgeOffsets = new Array[Int](n + 1)
    var total = 0
    var i = 0
    while (i < n) { edgeOffsets(i) = total; total += goto(i).size; i += 1 }
    edgeOffsets(n) = total
    val edgeChars = new Array[Char](total)
    val edgeTargets = new Array[Int](total)
    i = 0
    while (i < n) {
      var k = edgeOffsets(i)
      goto(i).toSeq.sortBy(_._1).foreach { case (c, t) =>
        edgeChars(k) = c; edgeTargets(k) = t; k += 1
      }
      i += 1
    }
    val outOffsets = new Array[Int](n + 1)
    total = 0
    i = 0
    while (i < n) { outOffsets(i) = total; total += outB(i).size; i += 1 }
    outOffsets(n) = total
    val outPatterns = new Array[Int](total)
    i = 0
    while (i < n) {
      var k = outOffsets(i)
      outB(i).foreach { p => outPatterns(k) = p; k += 1 }
      i += 1
    }
    new AhoCorasick(edgeOffsets, edgeChars, edgeTargets, fail,
      outOffsets, outPatterns, patterns, payloads)
  }
}
