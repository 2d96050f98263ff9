package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One Common-Crawl-style page (input_hint shape):
  * (url, warc_ts, html binary, text, lang).
  */
final case class Page(url: String, warc_ts: java.sql.Timestamp,
                      html: Array[Byte], text: String, lang: String)

/** Deterministic seeded generator of the synthetic web corpus (FIXTURES.md
  * §1): each page's HTML embeds a Wikidata-entity-shaped JSON payload, so the
  * reference's serialization rules define the expected extracted text.
  *
  * The universe is self-contained: item pages + property pages (so the label
  * dimension is harvestable from the corpus itself, like the reference's
  * 2-pass dump scan), with
  *  - cross-references between entities (P31/P17/P361 wikibase-item claims),
  *  - every scalar datatype (string/mono/time incl. Julian/quantity),
  *  - preferred/normal/deprecated ranks and qualifiers,
  *  - ambiguous aliases (same surface on many entities → the linker has to
  *    disambiguate),
  *  - sameAs twins (P2888) every 12th entity → canonicalization clusters.
  *
  * Generation is distributed and deterministic per index (seeded Random per
  * row) — same (n, partitions) ⇒ byte-identical corpus, independent of
  * parallelism.
  */
object PagesGen {

  val qBase = 100000L
  val sameAsPid = "P2888"

  def qid(i: Long): String = s"Q${qBase + i}"

  val properties: Seq[(String, String)] = Seq(
    "P31" -> "instance of", "P17" -> "country", "P361" -> "part of",
    "P1082" -> "population", "P571" -> "inception", "P2043" -> "length",
    "P1448" -> "official name", "P1889" -> "different from",
    "P580" -> "start time", "P2888" -> "exact match")

  val langs: Seq[String] = Seq("en", "de", "ar", "rdf", "json")

  private val adjectives = Vector("Shiny", "Quiet", "Ancient", "Rapid", "Amber",
    "Coastal", "Northern", "Verdant", "Hollow", "Gilded", "Misty", "Sober")
  private val nouns = Vector("Widget", "Harbor", "Citadel", "Meadow", "Archive",
    "Foundry", "Junction", "Basin", "Observatory", "Orchard", "Viaduct", "Granary")

  def labelOfIndex(i: Long): String =
    s"${adjectives((i % adjectives.size).toInt)} ${nouns(((i / adjectives.size) % nouns.size).toInt)} $i"

  /** Build the raw entity payload for item index i (of n). Pure. */
  def entityJson(i: Long, n: Long, mapper: ObjectMapper): String =
    entityJson(i, n, mapper, crawl = 1)

  /** Build the raw entity payload for item index i (of n) as served on the
    * given `crawl`. Crawl 1 is the pinned base corpus (the overload above —
    * byte-identical to what every golden was generated from). Crawl 2
    * re-serves the SAME bytes except for the two deterministic change
    * families below; the per-row Random is seeded identically and every
    * draw still happens in the same order, so an entity outside both
    * families is byte-for-byte the crawl-1 payload (the revisit operator's
    * "unchanged" contract is real, not approximate).
    */
  def entityJson(i: Long, n: Long, mapper: ObjectMapper, crawl: Int): String = {
    val rnd = new java.util.Random(0xC0FFEEL * 31 + i)
    val root = mapper.createObjectNode()
    root.put("type", "item").put("id", qid(i))

    def lv(field: String, lang: String, value: String): Unit = {
      val o = root.`with`(field).putObject(lang)
      o.put("language", lang).put("value", value)
    }
    lv("labels", "en", labelOfIndex(i))
    if (i % 5 == 0) lv("labels", "mul", s"Mul ${labelOfIndex(i)}")
    // per-language data: de/ar labels + descriptions so the per-LANG
    // normalization path (reference runs one pipeline per LANGUAGE) resolves
    // real non-en labels end-to-end; every 6th entity lacks de (mul/'' fallback)
    if (i % 6 != 2) lv("labels", "de", s"${labelOfIndex(i)} (de)")
    lv("labels", "ar", s"${labelOfIndex(i)} (ar)")
    lv("descriptions", "en", s"synthetic entity number $i in the fixture web")
    lv("descriptions", "de", s"synthetisches Objekt Nummer $i")
    lv("descriptions", "ar", s"كيان اصطناعي رقم $i")
    // every 10th-ish entity has NO sitelink -> is_in_wikipedia false -> the
    // J4 gate must exclude it from textify/docs (observable gate)
    if (i % 10 != 7)
      root.`with`("sitelinks").putObject("enwiki").put("site", "enwiki").put("title", labelOfIndex(i))

    val aliases = root.`with`("aliases").putArray("en")
    // ambiguous surface: pool sized with n so the expected candidate-set per
    // surface stays ~3 regardless of corpus size (fixed pool made candidate
    // fan-out grow linearly with n — quadratic mention×candidate rows)
    val aliasPool = math.max(11L, n / 9)
    if (i % 3 == 0) aliases.addObject().put("value", s"Alias${i % aliasPool}")
    if (i % 12 == 1) aliases.addObject().put("value", labelOfIndex(i - 1)) // twin shares label

    val claims = root.`with`("claims")
    def claim(pid: String, snak: ObjectNode => Unit, rank: String = "normal",
              quals: Option[ObjectNode => Unit] = None): Unit = {
      val arr = if (claims.has(pid)) claims.withArray(pid) else claims.putArray(pid)
      val c = arr.addObject()
      c.put("type", "statement").put("rank", rank)
      val ms = c.putObject("mainsnak"); snak(ms)
      quals.foreach { q => q(c.putObject("qualifiers")) }
    }
    def itemSnak(target: String)(ms: ObjectNode): Unit = {
      ms.put("snaktype", "value").put("datatype", "wikibase-item")
      val dv = ms.putObject("datavalue"); dv.put("type", "wikibase-entityid")
      dv.putObject("value").put("entity-type", "item").put("id", target)
    }
    def qtySnak(amount: String, unit: String)(ms: ObjectNode): Unit = {
      ms.put("snaktype", "value").put("datatype", "quantity")
      val dv = ms.putObject("datavalue"); dv.put("type", "quantity")
      val v = dv.putObject("value"); v.put("amount", amount)
      v.put("unit", if (unit == "1") "1" else s"http://www.wikidata.org/entity/$unit")
    }
    def timeSnak(t: String, prec: Int, cal: String)(ms: ObjectNode): Unit = {
      ms.put("snaktype", "value").put("datatype", "time")
      val dv = ms.putObject("datavalue"); dv.put("type", "time")
      val v = dv.putObject("value"); v.put("time", t).put("precision", prec)
      v.put("calendarmodel", s"http://www.wikidata.org/entity/$cal")
    }
    def monoSnak(text: String)(ms: ObjectNode): Unit = {
      ms.put("snaktype", "value").put("datatype", "monolingualtext")
      val dv = ms.putObject("datavalue"); dv.put("type", "monolingualtext")
      dv.putObject("value").put("text", text).put("language", "en")
    }
    def strSnak(s: String)(ms: ObjectNode): Unit = {
      ms.put("snaktype", "value").put("datatype", "string")
      ms.putObject("datavalue").put("type", "string").put("value", s)
    }

    // type + country concepts point at the low-index entities
    claim("P31", itemSnak(qid(i % 17)))
    if (i % 7 == 0) claim("P31", itemSnak(qid(17 + i % 11)), rank = "preferred")
    if (i % 13 == 0) claim("P31", itemSnak(qid(5)), rank = "deprecated")
    claim("P17", itemSnak(qid(17 + i % 11)),
      quals = Some { q =>
        val arr = q.putArray("P580")
        val s = arr.addObject()
        timeSnak(f"+19${50 + i % 49}%02d-01-01T00:00:00Z", 9, "Q1985727")(s)
      })
    // provenance references on every 3rd entity's P17 claim (P6: reference
    // sub-triples); shape matches the dump's references blocks
    if (i % 3 == 0) {
      val refs = claims.withArray("P17").get(0).asInstanceOf[ObjectNode].putArray("references")
      val block = refs.addObject()
      block.put("hash", s"ref$i")
      val snaks = block.putObject("snaks")
      val snakArr = snaks.putArray("P580")
      timeSnak("+2020-01-01T00:00:00Z", 11, "Q1985727")(snakArr.addObject())
      block.putArray("snaks-order").add("P580")
    }
    claim("P361", itemSnak(qid((i * 13 + 5) % n)))
    // population: crawl 2 REVISES it for every 6th entity (the SCD change
    // family). The crawl-1 draw is consumed either way so every later
    // rnd-derived claim stays byte-identical across crawls.
    val popCrawl1 = s"+${1000 + rnd.nextInt(999000)}"
    val pop = if (crawl >= 2 && i % 6 == 0) s"+${2000000 + i % 999000}" else popCrawl1
    claim("P1082", qtySnak(pop, "1"))
    claim("P2043", qtySnak(s"+${rnd.nextInt(5000)}.${rnd.nextInt(10)}", qid(40)))
    val prec = Seq(11, 9, 10, 7)(rnd.nextInt(4))
    val cal = if (rnd.nextInt(5) == 0) "Q1985786" else "Q1985727"
    claim("P571", timeSnak(f"+1${200 + rnd.nextInt(799)}%03d-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(9)}T00:00:00Z", prec, cal))
    claim("P1448", monoSnak(s"The Official ${labelOfIndex(i)}"))
    if (i % 4 == 0) claim("P1889", strSnak(s"""note "quoted" fact $i"""))
    if (i % 12 == 1) claim(sameAsPid, itemSnak(qid(i - 1))) // twin edge
    // crawl 2's NEW identity evidence (the delta-canon change family):
    // every 24th entity (i ≡ 1 mod 24, itself half of a crawl-1 twin pair
    // {i-1, i}) asserts sameAs to qid(i+12) — the other half of ANOTHER
    // crawl-1 twin pair {i+11, i+12} — so incremental canonicalization must
    // merge two existing 2-node components into one 4-node component.
    if (crawl >= 2 && i % 24 == 1 && i + 12 < n)
      claim(sameAsPid, itemSnak(qid(i + 12)))

    mapper.writeValueAsString(root)
  }

  def propertyJson(pid: String, label: String, mapper: ObjectMapper): String = {
    val root = mapper.createObjectNode()
    root.put("type", "property").put("id", pid)
    root.`with`("labels").putObject("en").put("language", "en").put("value", label)
    root.`with`("labels").putObject("de").put("language", "de").put("value", s"$label (de)")
    root.`with`("labels").putObject("ar").put("language", "ar").put("value", s"$label (ar)")
    root.`with`("descriptions").putObject("en").put("language", "en").put("value", s"property $label")
    root.putObject("aliases"); root.putObject("sitelinks"); root.putObject("claims")
    mapper.writeValueAsString(root)
  }

  def urlOf(id: String): String = s"https://fixture.test/wiki/$id"

  private def htmlFor(id: String, title: String, payload: String): Array[Byte] = {
    val html =
      s"""<!DOCTYPE html><html><head><title>$title</title></head><body>
         |<h1>$title</h1>
         |<script id="wd-entity" type="application/json">$payload</script>
         |<p>Boilerplate navigation and chrome that extraction must ignore.</p>
         |</body></html>""".stripMargin
    html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The corpus: n item pages + one page per property. */
  def pages(spark: SparkSession, n: Long, partitions: Int = 32): DataFrame = {
    import spark.implicits._
    val items = spark.range(0, n, 1, partitions).map { i =>
      val mapper = graft.model.WikidataJson.mapper // thread-local
      val payload = entityJson(i, n, mapper)
      val id = qid(i)
      Page(urlOf(id), new java.sql.Timestamp(1735689600000L + i * 1000),
        htmlFor(id, labelOfIndex(i), payload),
        "", langs((i % langs.size).toInt))
    }
    val props = spark.createDataset(properties).map { case (pid, label) =>
      val mapper = graft.model.WikidataJson.mapper
      Page(urlOf(pid), new java.sql.Timestamp(1735689600000L),
        htmlFor(pid, label, propertyJson(pid, label, mapper)), "", "en")
    }
    items.unionByName(props).toDF()
  }

  /** Crawl 2 fetch time: one day after the crawl-1 window opens; per-row
    * offsets keep url-level timestamps unique across the union of crawls.
    */
  val crawl2Base = 1735689600000L + 86400000L

  /** Deterministic SECOND crawl over the same url space (the incremental-
    * crawl fixture): a subset of item pages is re-fetched one day later.
    * Re-crawl set = every 3rd entity plus the i ≡ 1 mod 24 entities that
    * gain the new sameAs edge. Within it,
    *  - i % 6 == 0  → the population (P1082) value is revised
    *    ([[entityJson]]'s SCD change family): content digest changes, the
    *    triple history gains a second validity interval;
    *  - i % 24 == 1 → a NEW sameAs claim appears (delta-canon must merge
    *    two crawl-1 components);
    *  - everything else re-serves byte-identical HTML at the new warc_ts
    *    (revisit consolidation must classify it unchanged).
    * Properties are not re-crawled. Same determinism contract as [[pages]]:
    * same (n, partitions) ⇒ byte-identical frame at any parallelism.
    */
  def pagesDelta(spark: SparkSession, n: Long, partitions: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions)
      .filter(i => i % 3 == 0 || i % 24 == 1)
      .map { i =>
        val mapper = graft.model.WikidataJson.mapper
        val payload = entityJson(i, n, mapper, crawl = 2)
        val id = qid(i)
        Page(urlOf(id), new java.sql.Timestamp(crawl2Base + i * 1000),
          htmlFor(id, labelOfIndex(i), payload),
          "", langs((i % langs.size).toInt))
      }.toDF()
  }

  /** Pull the embedded entity payload back out of the HTML (the extract
    * stage's parser). Returns None when the page carries no payload.
    *
    * Both markers are ASCII, and UTF-8 never puts an ASCII byte inside a
    * multi-byte sequence, so the markers are found in an ISO-8859-1 view
    * (one char per byte) and only the payload's bytes are decoded as UTF-8:
    * the same string as decoding the whole page and cutting it out.
    */
  def extractPayload(html: Array[Byte]): Option[String] = {
    val s = new String(html, java.nio.charset.StandardCharsets.ISO_8859_1)
    val marker = """<script id="wd-entity" type="application/json">"""
    val start = s.indexOf(marker)
    if (start < 0) None
    else {
      val from = start + marker.length
      val end = s.indexOf("</script>", from)
      if (end < 0) None
      else Some(new String(html, from, end - from, java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}
