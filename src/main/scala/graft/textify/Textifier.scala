package graft.textify

import graft.model.{Claim, ClaimGroup, Entity, QualifierGroup, Snak}
import java.util.Objects.requireNonNull
import scala.collection.mutable

/** Entity → text rendering, the semantics of the reference's
  * `WikidataTextifier` (ref: src/wikidataEmbed.py:25-171).
  *
  * `labelOf` abstracts the reference's row-at-a-time
  * `WikidataEntity.get_entity(id).label` point lookups
  * (ref: src/wikidataEmbed.py:72-75,115-122): `None` = entity absent (claim
  * dropped), `Some("")` = entity present with empty label (also dropped by
  * Python truthiness). In distributed use the function closes over a
  * broadcast label map; graft.triples hoists the same lookups into joins.
  *
  * Pure and deterministic; safe inside `Dataset.map`.
  */
class Textifier(val lang: LangVariant, labelOf: String => Option[String]) extends Serializable {

  /** `mainsnak_to_value` (ref: src/wikidataEmbed.py:104-147) over the
    * [[graft.model.SnakValue]] that `WikidataJson.normalize` decoded once per
    * datatype. A value without the field its datatype needs throws a
    * NullPointerException (the reference's KeyError); a time without a
    * renderable precision falls back to its raw timestamp, a quantity whose
    * unit cannot be rendered to its bare amount. Returned Option is Python
    * truthiness: callers must drop empty strings too.
    */
  def mainsnakToValue(snak: Snak): Option[String] = snak.snaktype match {
    case "value" =>
      val v = snak.value
      if (v == null) return None
      snak.datatype match {
        case "wikibase-item" | "wikibase-property" =>
          labelOf(requireNonNull(v.id, "value without id"))
        case "monolingualtext" =>
          Some(requireNonNull(v.text, "value without text"))
        case "string" =>
          Some(v.text)
        case "time" =>
          val raw = requireNonNull(v.time, "value without time")
          Some(v.precision.fold(raw) { p =>
            try TimeText.toText(raw, p, v.calendarmodel, lang) catch { case _: Exception => raw }
          })
        case "quantity" =>
          val amount = requireNonNull(v.amount, "value without amount")
          try Some(quantityToText(amount, v.unit))
          catch { case _: Exception => Some(amount) }
        case _ => None
      }
    case "novalue" => Some(lang.novalue)
    case _ => None
  }

  /** `quantity_to_text` (ref: src/wikidataEmbed.py:149-171) of a decoded
    * quantity: `amount` kept verbatim (incl. leading '+'); unit '1' → bare
    * amount; unit URI → QID label when the entity exists and has a non-empty
    * label, the raw URI when the entity is absent, omitted when the label is
    * empty. A null `unit` (JSON null) throws, and `mainsnakToValue` then
    * renders the bare amount.
    */
  def quantityToText(amount: String, unitRaw: String): String = {
    if (unitRaw == null) throw new IllegalArgumentException("missing unit") // ref: AttributeError → amount fallback
    val unit: String =
      if (unitRaw == "1") null
      else {
        val qid = unitRaw.substring(unitRaw.lastIndexOf('/') + 1)
        labelOf(qid) match {
          case Some(lbl) => lbl       // may be "" → falsy → omitted below
          case None      => unitRaw   // entity absent: URI kept (ref keeps `unit`)
        }
      }
    amount + (if (unit != null && unit.nonEmpty) s" $unit" else "")
  }

  /** `qualifiers_to_dict` (ref: src/wikidataEmbed.py:78-102). */
  def qualifiersToDict(qualifiers: Seq[QualifierGroup]): Seq[(String, Seq[String])] = {
    val out = mutable.LinkedHashMap.empty[String, Seq[String]]
    qualifiers.foreach { qg =>
      val qData = qg.snaks.flatMap(mainsnakToValue).filter(_.nonEmpty)
      if (qData.nonEmpty) labelOf(qg.pid).foreach { pl => out.put(pl, qData) }
    }
    out.toSeq
  }

  /** `properties_to_dict` with the order-sensitive preferred-rank reset
    * (ref: src/wikidataEmbed.py:41-76): first preferred claim clears the
    * accumulated normals; afterwards only preferred are kept.
    */
  def propertiesToDict(claims: Seq[ClaimGroup]): Seq[(String, Seq[RenderedClaim])] = {
    val out = mutable.LinkedHashMap.empty[String, Seq[RenderedClaim]]
    claims.foreach { cg =>
      val pData = mutable.ArrayBuffer.empty[RenderedClaim]
      var rankPreferredFound = false
      cg.claims.foreach { c: Claim =>
        val value = mainsnakToValue(c.mainsnak)
        val quals = qualifiersToDict(c.qualifiers)
        val rank = Option(c.rank).getOrElse("normal").toLowerCase
        if (value.exists(_.nonEmpty)) {
          if ((!rankPreferredFound && rank == "normal") || rank == "preferred") {
            if (!rankPreferredFound && rank == "preferred") {
              rankPreferredFound = true
              pData.clear()
            }
            pData += RenderedClaim(value.get, quals)
          }
        }
      }
      if (pData.nonEmpty) labelOf(cg.pid).foreach { pl => out.put(pl, pData.toSeq) }
    }
    out.toSeq
  }

  /** `entity_to_text` (ref: src/wikidataEmbed.py:25-39). */
  def entityToText(entity: Entity, properties: Option[Seq[(String, Seq[RenderedClaim])]] = None): String = {
    val props = properties.getOrElse(propertiesToDict(entity.claims))
    lang.mergeEntityText(entity.label, entity.description, entity.aliases, props)
  }
}
