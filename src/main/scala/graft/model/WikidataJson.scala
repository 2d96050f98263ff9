package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Dump-line JSON parsing + normalization (pure; used from `Dataset.map`).
  *
  * Semantics mirror the reference:
  *  - line strip of `[] ,\n` wrappers, null on malformed
  *    (ref: src/wikidataDumpReader.py:34-53)
  *  - `normalise_item` language/mul fallback (ref: src/wikidataDB.py:126-148)
  *  - `_get_claims` statement/deprecated filter + key projection
  *    (ref: src/wikidataDB.py:169-193; the explicit field projection here IS
  *    the `_remove_keys` strip — we only ever read the kept fields)
  *  - `_get_aliases` lang ∪ mul dedup (ref: src/wikidataDB.py:195-212); the
  *    reference's Python set union has unspecified order, we pin
  *    first-occurrence order (lang entries, then unseen mul entries)
  *  - `is_in_wikipedia` gate (ref: src/wikidataDB.py:298-313)
  *  - `extract_entity_ids` explode (ref: src/wikidataDB.py:315-365)
  *  - raw claim scalarization ladder for the statement/triple pipeline
  *    (ref: …statement_textification.py:350-383)
  *
  * ObjectMapper is THREAD-LOCAL, not shared: Jackson's canonicalizing
  * symbol tables synchronize merges on the shared factory root, which
  * serialized a 32-thread parse storm (measured: local[32] slower than
  * local[8] on the pure parse+render kernel until this change).
  */
object WikidataJson {

  private val mapperTL: ThreadLocal[ObjectMapper] =
    ThreadLocal.withInitial(() => new ObjectMapper())

  /** Per-thread ObjectMapper — shared by all row-level parse/render code. */
  def mapper: ObjectMapper = mapperTL.get()

  /** `line` without its leading and trailing `[] ,\n\r\t` dump wrappers:
    * two index scans and one substring, no copy of the payload per side.
    */
  private[model] def trimLine(line: String): String = {
    def wrapper(c: Char) = "[] ,\n\r\t".indexOf(c) >= 0
    var from = 0
    var to = line.length
    while (from < to && wrapper(line.charAt(from))) from += 1
    while (to > from && wrapper(line.charAt(to - 1))) to -= 1
    line.substring(from, to)
  }

  def parseLine(line: String): Option[JsonNode] = {
    val trimmed = trimLine(line)
    if (trimmed.isEmpty) None
    else
      try {
        val node = mapper.readTree(trimmed)
        // an entity line without an id is garbage: dropping it HERE gives
        // every downstream flatMap (normalize, stats, harvest) the same
        // dirty-row tolerance instead of an executor NPE on item["id"]
        if (node.isObject && node.hasNonNull("id")) Some(node) else None
      }
      catch { case _: Exception => None }
  }

  private def textOrNull(n: JsonNode): String =
    if (n == null || n.isNull) null else n.asText()

  /** `item['labels'][lang]['value']` with `mul` fallback, else "". */
  private def langValue(item: JsonNode, field: String, language: String): String = {
    val m = item.get(field)
    if (m == null || !m.isObject) ""
    else {
      val l = m.get(language)
      if (l != null && l.has("value")) l.get("value").asText()
      else {
        val mul = m.get("mul")
        if (mul != null && mul.has("value")) mul.get("value").asText() else ""
      }
    }
  }

  /** Aliases lang ∪ mul, first-occurrence dedup (ref set-union order pinned). */
  private def aliases(item: JsonNode, language: String): Seq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    val al = item.get("aliases")
    if (al != null && al.isObject) {
      for (key <- Seq(language, "mul"); arr = al.get(key); if arr != null && arr.isArray)
        arr.elements().asScala.foreach { e =>
          val v = e.get("value"); if (v != null) out += v.asText()
        }
    }
    out.toSeq
  }

  /** `value` decoded for `datatype` (see [[SnakValue]]). */
  private def snakValue(datatype: String, value: JsonNode): SnakValue = {
    def field(name: String): String = { val f = value.get(name); if (f == null) null else f.asText() }
    datatype match {
      case "wikibase-item" | "wikibase-property" => SnakValue(id = field("id"))
      case "monolingualtext" => SnakValue(text = field("text"))
      case "string" => SnakValue(text = value.asText())
      case "time" => SnakValue(time = field("time"),
        precision = Option(value.get("precision")).map(_.asInt()),
        calendarmodel = value.path("calendarmodel").asText("http://www.wikidata.org/entity/Q1985786"))
      case "quantity" => SnakValue(amount = field("amount"),
        unit = if (value.has("unit")) textOrNull(value.get("unit")) else "1")
      case _ => SnakValue()
    }
  }

  private def parseSnak(s: JsonNode): Snak = {
    val dv = s.get("datavalue")
    val datatype = if (s.has("datatype")) s.get("datatype").asText() else ""
    Snak(
      snaktype = if (s.has("snaktype")) s.get("snaktype").asText() else "",
      datatype = datatype,
      value = if (dv != null && dv.has("value")) snakValue(datatype, dv.get("value")) else null)
  }

  /** `_get_claims`: keep type=='statement' && rank!='deprecated'. */
  private def claims(item: JsonNode): Seq[ClaimGroup] = {
    val cl = item.get("claims")
    if (cl == null || !cl.isObject) Seq.empty
    else cl.properties().asScala.iterator.flatMap { e =>
      val pid = e.getKey
      val kept = e.getValue.elements().asScala.filter { c =>
        c.path("type").asText("") == "statement" && c.path("rank").asText("") != "deprecated"
      }.map { c =>
        val quals = {
          val q = c.get("qualifiers")
          if (q == null || !q.isObject) Seq.empty[QualifierGroup]
          else q.properties().asScala.iterator.map { qe =>
            QualifierGroup(qe.getKey, qe.getValue.elements().asScala.map(parseSnak).toSeq)
          }.toSeq
        }
        Claim(
          mainsnak = if (c.has("mainsnak")) parseSnak(c.get("mainsnak")) else Snak("", "", null),
          qualifiers = quals,
          rank = c.path("rank").asText("normal"))
      }.toSeq
      if (kept.nonEmpty) Some(ClaimGroup(pid, kept)) else None
    }.toSeq
  }

  /** Label + aliases only — the per-language label-dimension harvest path.
    * Skips the claims parse entirely (claims are language-independent and
    * the dimension doesn't store them), which matters when one item is
    * harvested once per data language.
    */
  def labelAliases(item: JsonNode, language: String): (String, Seq[String]) =
    (langValue(item, "labels", language), aliases(item, language))

  /** `normalise_item` → typed Entity. */
  def normalize(item: JsonNode, language: String = "en"): Entity =
    Entity(
      id = item.get("id").asText(),
      label = langValue(item, "labels", language),
      description = langValue(item, "descriptions", language),
      aliases = aliases(item, language),
      claims = claims(item))

  /** `is_in_wikipedia`: sitelink + label + description (lang or mul). */
  def isInWikipedia(item: JsonNode, language: String = "en"): Boolean = {
    def hasLang(field: String): Boolean = {
      val m = item.get(field)
      m != null && m.isObject && (m.has(language) || m.has("mul"))
    }
    val sl = item.get("sitelinks")
    sl != null && sl.isObject && sl.has(s"${language}wiki") &&
      hasLang("labels") && hasLang("descriptions")
  }

  /** `extract_entity_ids` — every QID/PID an entity references. */
  def extractEntityIds(item: JsonNode, language: String = "en"): Seq[IdFlag] = {
    if (item == null) return Seq.empty
    val out = mutable.ArrayBuffer.empty[IdFlag]
    out += IdFlag(item.get("id").asText(), isInWikipedia(item, language), isProperty = false)

    def snakIds(s: JsonNode): Unit = {
      val dv = s.get("datavalue")
      if (dv != null) {
        val dt = s.path("datatype").asText("")
        if (dt == "wikibase-item")
          out += IdFlag(dv.get("value").get("id").asText(), false, false)
        else if (dt == "wikibase-property")
          out += IdFlag(dv.get("value").get("id").asText(), false, true)
        else if (dt == "quantity") {
          val unit = dv.get("value").path("unit").asText("1")
          if (unit != "1")
            out += IdFlag(unit.substring(unit.lastIndexOf('/') + 1), false, false)
        }
      }
    }

    val cl = item.get("claims")
    if (cl != null && cl.isObject) cl.properties().asScala.foreach { e =>
      out += IdFlag(e.getKey, inWikipedia = false, isProperty = true)
      e.getValue.elements().asScala.foreach { c =>
        if (c.has("mainsnak") && c.get("mainsnak").has("datavalue")) snakIds(c.get("mainsnak"))
        val q = c.get("qualifiers")
        if (q != null && q.isObject) q.properties().asScala.foreach { qe =>
          out += IdFlag(qe.getKey, inWikipedia = false, isProperty = true)
          qe.getValue.elements().asScala.foreach { qq => if (qq.has("datavalue")) snakIds(qq) }
        }
      }
    }
    out.toSeq
  }

  /** Python `repr(float)` / `str(int)` for JSON numbers — needed because the
    * reference renders coordinate floats through f-strings
    * (ref: …statement_textification.py:366-375). Integral JSON numbers render
    * as ints; floats use shortest-roundtrip digits with Python's exponent
    * thresholds (scientific iff exp < -4 or >= 16).
    */
  def pyNumberRepr(n: JsonNode): String =
    if (n.isIntegralNumber) n.asText()
    else graft.textify.PyFloat.repr(n.asDouble())

  /** The statement pipeline's value scalarization ladder
    * (ref: …statement_textification.py:350-383). Returns None when the value
    * is a dict that matches no ladder key (reference `continue`s).
    */
  def scalarizeValue(valueNode: JsonNode): Option[String] = {
    if (valueNode.isTextual) Some(valueNode.asText())
    else if (valueNode.isObject) {
      var label: Option[String] = None
      if (valueNode.has("id")) label = Some(valueNode.get("id").asText())
      if (valueNode.has("amount")) label = Some(valueNode.get("amount").asText())
      if (valueNode.has("time")) label = Some(valueNode.get("time").asText())
      if (valueNode.has("text")) label = Some(valueNode.get("text").asText())
      if (valueNode.has("latitude")) {
        var s = s"lat${pyNumberRepr(valueNode.get("latitude"))}"
        if (valueNode.has("longitude")) s += s"_lon${pyNumberRepr(valueNode.get("longitude"))}"
        if (valueNode.has("altitude")) {
          // Python f-string renders a null altitude as the literal "None"
          val alt = valueNode.get("altitude")
          s += s"_alt${if (alt.isNull) "None" else pyNumberRepr(alt)}"
        }
        label = Some(s)
      }
      label
    } else Some(valueNode.asText()) // numbers/bools: JSON literal text
  }

  def looksLikeQid(s: String): Boolean =
    s.nonEmpty && s.charAt(0) == 'Q' && s.length > 1 && s.drop(1).forall(_.isDigit)

  /** Explode a raw dump item into triple-extractor claim rows
    * (ref: …statement_textification.py:337-383). Returns empty when the item
    * has no `descriptions[lang]` — strict, no mul fallback there.
    */
  def toClaimRows(item: JsonNode, language: String = "en"): Seq[ClaimRow] = {
    val descs = item.get("descriptions")
    if (descs == null || !descs.has(language)) return Seq.empty
    val itemDesc = descs.get(language).get("value").asText()
    val qid = item.get("id").asText()

    val out = mutable.ArrayBuffer.empty[ClaimRow]
    val cl = item.get("claims")
    if (cl != null && cl.isObject) cl.properties().asScala.foreach { e =>
      val pid = e.getKey
      var idx = 0
      e.getValue.elements().asScala.foreach { c =>
        val ms = c.get("mainsnak")
        if (ms != null && ms.has("datavalue")) {
          val vnode = ms.get("datavalue").get("value")
          scalarizeValue(vnode).foreach { scalar =>
            out += ClaimRow(qid, itemDesc, pid, idx, scalar, looksLikeQid(scalar))
          }
        }
        idx += 1
      }
    }
    out.toSeq
  }

  /** A dump line or page payload to its claim rows: [[parseLine]] then
    * [[toClaimRows]]; empty for a line that does not parse.
    */
  def claimRowsOf(line: String, language: String = "en"): Seq[ClaimRow] =
    parseLine(line).map(toClaimRows(_, language)).getOrElse(Seq.empty)
}
