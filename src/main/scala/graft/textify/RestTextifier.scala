package graft.textify

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** T13 — the reference's REST-API statement textification with per-datatype
  * property-label phrasing (ref: experimental_run_scripts/
  * wikidata_restapi_textification.py:351-615). Input is the REST item shape
  * `{item_data: {id, labels: {lang: label}, descriptions: {lang: desc},
  * statements: {pid: [{property: {data-type}, value: {content}}]}}}`.
  *
  * Faithful semantics, golden-pinned (tools/gen_goldens.py runs the
  * reference's own methods):
  *  - leading description row `"{label} can be described as {desc}"`;
  *  - phrasings: time → "has more information to be found at the {p}",
  *    external-id → "can be externally identified by the {p} as",
  *    commonsMediaid / url / quantity / monolingualtext per reference;
  *  - only item/time/quantity/monolingualtext rows survive (other datatypes
  *    leave value_content empty → skipped), but their label REWRITES STICK:
  *    the reference mutates property_label across a pid's statement loop, so
  *    a second quantity statement renders "has the quantity of has the
  *    quantity of {p} at at" — reproduced deliberately;
  *  - `check_and_return_value`: unwrap lists to first element; dict → [key];
  *  - missing property label ⇒ the whole pid is skipped; missing value
  *    label ⇒ empty content ⇒ row skipped.
  */
object RestTextifier {

  final case class RestStatement(qid: String, pid: String, value: String,
                                 item_label: String, property_label: String,
                                 value_content: String, statement: String)

  /** `check_and_return_value`: unwrap arrays, then dict[key] or the scalar. */
  def checkAndReturnValue(value: JsonNode, key: String): Option[String] = {
    var v = value
    while (v != null && v.isArray) v = if (v.size() > 0) v.get(0) else null
    if (v == null) None
    else if (v.isObject) {
      val k = v.get(key)
      if (k == null) None // reference KeyError → row never materializes
      else Some(k.asText())
    } else Some(v.asText())
  }

  /** `convert_value_to_string`: (new property label, value content, raw value). */
  def convertValueToString(stmt: JsonNode, propertyLabel0: String,
                           labelOf: String => Option[String]): (String, String, String) = {
    val dataType = stmt.path("property").path("data-type").asText("")
    var propertyLabel = propertyLabel0
    val valueNode: JsonNode = {
      val v = stmt.get("value")
      if (v != null && v.has("content")) v.get("content") else null
    }
    val rawValue = if (valueNode != null && valueNode.isTextual) valueNode.asText() else null

    var valueContent = ""
    dataType match {
      case "wikibase-item" =>
        if (rawValue != null) valueContent = labelOf(rawValue).getOrElse("")
      case "time" =>
        valueContent = checkAndReturnValue(valueNode, "time").getOrElse("")
        propertyLabel = s"has more information to be found at the $propertyLabel"
      case "external-id" =>
        propertyLabel = s"can be externally identified by the $propertyLabel as"
      case "commonsMediaid" =>
        propertyLabel = s"has the commonsMediaid of $propertyLabel"
      case "url" =>
        propertyLabel = s"has more information to be found at ${propertyLabel.replace(" ", "_")}"
      case "quantity" =>
        valueContent = checkAndReturnValue(valueNode, "amount").getOrElse("")
        propertyLabel = s"has the quantity of $propertyLabel at"
      case "monolingualtext" =>
        val lang = checkAndReturnValue(valueNode, "language").getOrElse("")
        valueContent = checkAndReturnValue(valueNode, "text").getOrElse("")
        propertyLabel = s"has the $lang monolingual text identifier of $propertyLabel at"
      case _ => // other datatypes: content stays empty → row skipped
    }
    (propertyLabel, valueContent, rawValue)
  }

  /** `make_statement` for one pid — note the deliberate label mutation
    * across the statement loop (see class doc).
    */
  def makeStatements(qid: String, itemLabel: String, pid: String, statements: Seq[JsonNode],
                     labelOf: String => Option[String]): Seq[RestStatement] = {
    var propertyLabel = labelOf(pid).getOrElse("")
    if (propertyLabel.isEmpty) return Seq.empty
    statements.flatMap { stmt =>
      val (pl, valueContent, rawValue) = convertValueToString(stmt, propertyLabel, labelOf)
      propertyLabel = pl // reference mutates across the loop
      if (valueContent.isEmpty) None
      else {
        val statementText = s"$itemLabel $propertyLabel $valueContent"
        Some(RestStatement(qid, pid,
          if (rawValue != null) rawValue else valueContent,
          itemLabel, propertyLabel, valueContent, statementText))
      }
    }
  }

  /** `convert_wikidata_item_to_statements`. */
  def itemToStatements(item: JsonNode, lang: String,
                       labelOf: String => Option[String]): Seq[RestStatement] = {
    val data = item.get("item_data")
    val qid = data.get("id").asText()
    val itemLabel = data.path("labels").path(lang).asText("")
    val itemDesc = data.path("descriptions").path(lang).asText("")
    val descRow = RestStatement(qid, "description", itemDesc, itemLabel,
      "can be described as", itemDesc, s"$itemLabel can be described as $itemDesc")
    val stmtRows = data.path("statements") match {
      case s if s.isObject =>
        s.properties().asScala.toSeq.flatMap { e =>
          makeStatements(qid, itemLabel, e.getKey, e.getValue.elements().asScala.toSeq, labelOf)
        }
      case _ => Seq.empty
    }
    descRow +: stmtRows
  }
}
