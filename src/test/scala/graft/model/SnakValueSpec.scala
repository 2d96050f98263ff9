package graft.model

import com.fasterxml.jackson.databind.JsonNode
import graft.SparkTestBase
import graft.operators.KgQueries
import graft.pipeline.TextifyStage
import graft.textify.{LangVariant, Textifier, TimeText}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

/** `WikidataJson.normalize` decodes each claim value once into a
  * [[SnakValue]]; the textifier, `TextifyStage.referencedIds` and kg9's
  * `instances_per_class` key read its fields. This spec checks that against
  * the decode it replaced, kept here as an oracle: `datavalue.value` written
  * back to a JSON string and each reader parsing that string again. Every
  * value node is tried under every datatype and snak type, so malformed
  * values (missing fields, JSON null, non-objects, textual numbers) must
  * render, throw and reference ids exactly as before.
  */
class SnakValueSpec extends AnyFunSuite {

  /** The replaced decode: readers of the raw JSON of `datavalue.value`. */
  private object RawJson {
    private def parse(json: String): JsonNode = WikidataJson.mapper.readTree(json)

    def valueJson(snak: JsonNode): String = {
      val dv = snak.get("datavalue")
      if (dv != null && dv.has("value")) dv.get("value").toString else null
    }

    def quantityToText(v: JsonNode, labelOf: String => Option[String]): String = {
      val amount = v.get("amount").asText()
      val unitRaw = if (v.has("unit") && !v.get("unit").isNull) v.get("unit").asText() else null
      if (unitRaw == null) throw new IllegalArgumentException("missing unit")
      val unit: String =
        if (unitRaw == "1") null
        else labelOf(unitRaw.substring(unitRaw.lastIndexOf('/') + 1)).getOrElse(unitRaw)
      amount + (if (unit != null && unit.nonEmpty) s" $unit" else "")
    }

    def mainsnakToValue(snaktype: String, datatype: String, valueJson: String,
                        labelOf: String => Option[String], lang: LangVariant): Option[String] =
      snaktype match {
        case "value" =>
          if (valueJson == null) None
          else datatype match {
            case "wikibase-item" | "wikibase-property" => labelOf(parse(valueJson).get("id").asText())
            case "monolingualtext" => Some(parse(valueJson).get("text").asText())
            case "string" => Some(parse(valueJson).asText())
            case "time" =>
              val v = parse(valueJson)
              val raw = v.get("time").asText()
              try Some(TimeText.toText(raw, v.get("precision").asInt(),
                v.path("calendarmodel").asText("http://www.wikidata.org/entity/Q1985786"), lang))
              catch { case _: Exception => Some(raw) }
            case "quantity" =>
              val v = parse(valueJson)
              try Some(quantityToText(v, labelOf))
              catch { case _: Exception => Some(v.get("amount").asText()) }
            case _ => None
          }
        case "novalue" => Some(lang.novalue)
        case _ => None
      }

    def snakIds(datatype: String, valueJson: String, out: mutable.LinkedHashSet[String]): Unit =
      if (valueJson != null) datatype match {
        case "wikibase-item" | "wikibase-property" =>
          val n = parse(valueJson)
          if (n.has("id")) out += n.get("id").asText()
        case "quantity" =>
          val n = parse(valueJson)
          // a JSON-null unit references nothing: the textifier renders the
          // bare amount and never looks it up (it was referenced as "null")
          val unit = if (!n.has("unit") || n.get("unit").isNull) "1" else n.get("unit").asText()
          if (unit != "1") out += unit.substring(unit.lastIndexOf('/') + 1)
        case _ =>
      }

    def instanceClass(pid: String, datatype: String, valueJson: String): Option[String] =
      if (pid == "P31" && datatype == "wikibase-item" && valueJson != null) {
        val n = parse(valueJson)
        if (n.has("id")) Some(n.get("id").asText()) else None
      } else None
  }

  private val labels = Map("Q5" -> "human", "Q11573" -> "metre", "Q1" -> "", "P31" -> "instance of")
  private val langs = Seq(LangVariant("en"), LangVariant("de"))
  private val datatypes = Seq("wikibase-item", "wikibase-property", "monolingualtext", "string",
    "time", "quantity", "globe-coordinate", "external-id", "")
  private val snaktypes = Seq("value", "somevalue", "novalue")
  private val uri = "http://www.wikidata.org/entity/"

  /** Value nodes for each datatype, well-formed and malformed. */
  private val handPicked: Seq[String] = Seq(
    // not objects
    "null", "\"Q5\"", "\"\"", "7", "1.5", "-0.0", "1e400", "12345678901234567890", "true",
    "[]", """["Q5"]""", "{}", "\"\\ud800x\"",
    // item / property
    """{"entity-type":"item","numeric-id":5,"id":"Q5"}""", """{"id":"Q404"}""", """{"id":"Q1"}""",
    """{"id":null}""", """{"id":42}""", """{"id":{"x":1}}""", """{"numeric-id":5}""",
    // text
    """{"text":"hi","language":"en"}""", """{"text":""}""", """{"text":null}""", """{"text":5}""",
    """{"text":["a"]}""", """{"language":"en"}""",
    // time
    s"""{"time":"+2020-03-01T00:00:00Z","precision":11,"calendarmodel":"${uri}Q1985727"}""",
    """{"time":"+2020-03-01T00:00:00Z","precision":9}""",
    """{"time":"+1950-00-00T00:00:00Z","precision":10,"calendarmodel":null}""",
    """{"time":"-0500-01-01T00:00:00Z","precision":7,"calendarmodel":5}""",
    """{"time":"+2020-03-01T00:00:00Z","precision":"11"}""",
    """{"time":"+2020-03-01T00:00:00Z","precision":"x"}""",
    """{"time":"+2020-03-01T00:00:00Z","precision":null}""",
    """{"time":"+2020-03-01T00:00:00Z","precision":11.7}""",
    """{"time":"+2020-03-01T00:00:00Z"}""", """{"time":"garbage","precision":11}""",
    """{"time":null,"precision":11}""", """{"time":2020,"precision":9}""", """{"precision":11}""",
    // quantity
    """{"amount":"+5","unit":"1"}""", """{"amount":"+5"}""", """{"amount":"+5","unit":null}""",
    s"""{"amount":"+1.5","unit":"${uri}Q11573"}""", s"""{"amount":"-2","unit":"${uri}Q999"}""",
    s"""{"amount":"+3","unit":"${uri}Q1"}""", """{"amount":"+3","unit":"Q11573"}""",
    """{"amount":"+3","unit":1}""", """{"amount":"+3","unit":{}}""", """{"amount":"+3","unit":"null"}""",
    """{"unit":"1"}""", """{"unit":null}""", s"""{"unit":"${uri}Q11573"}""",
    """{"amount":null,"unit":"1"}""", """{"amount":5,"unit":"1"}""", """{"amount":1e400}""",
    // every field at once
    s"""{"id":"Q5","text":"t","time":"+2001-01-01T00:00:00Z","precision":11,"amount":"+4","unit":"${uri}Q11573"}""")

  /** Seeded objects: each field absent, JSON null, a string or a number. */
  private def seeded(seed: Long, n: Int): Seq[String] = {
    val rnd = new Random(seed)
    val strings = Seq("Q5", "Q404", "", "1", "null", s"${uri}Q11573", s"${uri}Q1", "+7",
      "+1999-12-31T00:00:00Z", "11", "x/y/")
    val fields = Seq("id", "text", "language", "time", "precision", "calendarmodel", "amount", "unit")
    (0 until n).map { _ =>
      fields.flatMap { f =>
        rnd.nextInt(5) match {
          case 0 | 1 => None
          case 2     => Some(s""""$f":null""")
          case 3     => Some(s""""$f":${WikidataJson.mapper.writeValueAsString(strings(rnd.nextInt(strings.size)))}""")
          case _     => Some(s""""$f":${rnd.nextInt(20) - 5}""")
        }
      }.mkString("{", ",", "}")
    }
  }

  /** One item whose P31 claim and P580 qualifier hold `snak`. */
  private def item(snak: String): String =
    s"""{"id":"Q7","claims":{"P31":[{"type":"statement","rank":"normal","mainsnak":$snak,""" +
      s""""qualifiers":{"P580":[$snak]}}]}}"""

  private def snakJson(snaktype: String, datatype: String, datavalue: Option[String]): String = {
    val dt = if (datatype.isEmpty) "" else s""","datatype":"$datatype""""
    s"""{"snaktype":"$snaktype"$dt${datavalue.fold("")(dv => s""","datavalue":$dv""")}}"""
  }

  private def sameOutcome[T](got: Try[T], want: Try[T]): Boolean = (got, want) match {
    case (Success(a), Success(b)) => a == b
    case (Failure(a), Failure(b)) => a.getClass == b.getClass
    case _                        => false
  }

  test("decoded fields render, reference ids and key kg9 exactly as re-parsing the raw JSON did") {
    val datavalues = (handPicked ++ seeded(61, 300)).map(v => Some(s"""{"value":$v,"type":"x"}""")) ++
      Seq(None, Some("{}"), Some("\"x\""), Some("null"))
    var checked = 0
    for (dv <- datavalues; dt <- datatypes; st <- snaktypes) {
      val snak = snakJson(st, dt, dv)
      val raw = WikidataJson.parseLine(item(snak)).get
      val valueJson = RawJson.valueJson(WikidataJson.mapper.readTree(snak))
      val entity = WikidataJson.normalize(raw)
      val decoded = entity.claims.head.claims.head.mainsnak
      assert(decoded == entity.claims.head.claims.head.qualifiers.head.snaks.head)

      for (lang <- langs) {
        val got = Try(new Textifier(lang, labels.get).mainsnakToValue(decoded))
        val want = Try(RawJson.mainsnakToValue(st, dt, valueJson, labels.get, lang))
        assert(sameOutcome(got, want), s"${lang.getClass.getSimpleName} render of $snak: got $got, want $want")
      }

      val ids = mutable.LinkedHashSet("P31")
      RawJson.snakIds(dt, valueJson, ids)
      ids += "P580"
      RawJson.snakIds(dt, valueJson, ids)
      val gotIds = Try(TextifyStage.referencedIds(entity))
      assert(sameOutcome(gotIds, Try(ids.toSeq)), s"referencedIds of $snak: got $gotIds, want $ids")

      for (pid <- Seq("P31", "P17"))
        assert(KgQueries.instanceClass(pid, decoded) == RawJson.instanceClass(pid, dt, valueJson),
          s"kg9 key of $pid $snak")
      checked += 1
    }
    assert(checked == datavalues.size * datatypes.size * snaktypes.size)
  }

  test("a quantity with a JSON-null unit references no label, and renders as before") {
    def entity(unit: String) = WikidataJson.normalize(WikidataJson.parseLine(item(
      snakJson("value", "quantity", Some(s"""{"value":{"amount":"+5","unit":$unit}}""")))).get)
    val nullUnit = entity("null")
    assert(TextifyStage.referencedIds(nullUnit) == Seq("P31", "P580"))
    // the label of an entity named "null" is never read
    val snak = nullUnit.claims.head.claims.head.mainsnak
    for (lang <- langs; labelOf <- Seq(labels.get _, (labels + ("null" -> "nil")).get _))
      assert(new Textifier(lang, labelOf).mainsnakToValue(snak) == Some("+5"))
    // a unit that is the string "null" is a real reference, and is looked up
    val stringUnit = entity("\"null\"")
    assert(TextifyStage.referencedIds(stringUnit) == Seq("P31", "null", "P580"))
    assert(new Textifier(langs.head, Map("null" -> "nil").get).mainsnakToValue(
      stringUnit.claims.head.claims.head.mainsnak) == Some("+5 nil"))
  }

  test("Dataset[Entity] from parsed dump lines encodes and decodes every datatype's value") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    def claim(pid: String, snak: String) =
      s""""$pid":[{"type":"statement","rank":"normal","mainsnak":$snak,"qualifiers":{"P580":[$snak]}}]"""
    def value(dt: String, v: String) = snakJson("value", dt, Some(s"""{"value":$v}"""))
    val claims = Seq(
      claim("P31", value("wikibase-item", """{"id":"Q5"}""")),
      claim("P1647", value("wikibase-property", """{"id":"P31"}""")),
      claim("P1448", value("monolingualtext", """{"text":"Eins","language":"de"}""")),
      claim("P1889", value("string", "\"note \\\"quoted\\\"\"")),
      claim("P571", value("time", s"""{"time":"+2020-03-01T00:00:00Z","precision":11,"calendarmodel":"${uri}Q1985727"}""")),
      claim("P585", value("time", """{"time":"+2020-03-01T00:00:00Z"}""")),
      claim("P2043", value("quantity", s"""{"amount":"+1.5","unit":"${uri}Q11573"}""")),
      claim("P1082", value("quantity", """{"amount":"+5","unit":null}""")),
      claim("P625", value("globe-coordinate", """{"latitude":1.5,"longitude":2}""")),
      claim("P18", snakJson("somevalue", "string", None)))
    val line = s"""{"id":"Q7","labels":{"en":{"value":"seven"}},"claims":{${claims.mkString(",")}}}"""
    val want = WikidataJson.normalize(WikidataJson.parseLine(line).get)
    // parse and normalize in one lambda: JsonNode has no encoder
    val got = spark.createDataset(Seq(line))
      .flatMap(l => WikidataJson.parseLine(l).map(WikidataJson.normalize(_, "en"))).collect().toSeq
    assert(got == Seq(want))
    val values = got.head.claims.map(cg => cg.pid -> cg.claims.head.mainsnak.value).toMap
    assert(values("P31").id == "Q5" && values("P1647").id == "P31")
    assert(values("P1448").text == "Eins" && values("P1889").text == "note \"quoted\"")
    assert(values("P571") == SnakValue(time = "+2020-03-01T00:00:00Z", precision = Some(11),
      calendarmodel = s"${uri}Q1985727"))
    assert(values("P585").precision.isEmpty && values("P585").calendarmodel == s"${uri}Q1985786")
    assert(values("P2043") == SnakValue(amount = "+1.5", unit = s"${uri}Q11573"))
    assert(values("P1082") == SnakValue(amount = "+5"))
    assert(values("P625") == SnakValue() && values("P18") == null)
  }
}
