package graft.model

/** Typed data model for the KG-construction engine (SURVEY.md §1.3).
  *
  * Mirrors the reference's normalized entity record
  * (ref: src/wikidataDB.py:35-44,126-212) as Spark-encodable case classes.
  * Claim/qualifier *order is semantic* — the reference renders claims in
  * dict-insertion order and byte-identity depends on it — so maps are
  * modeled as `Seq[(key, value)]`, never `Map` (SURVEY.md §7.4).
  *
  * A snak's `datavalue.value` is shape-polymorphic per datatype. It is
  * decoded once, in `WikidataJson.normalize`, into the [[SnakValue]] fields
  * its datatype renders from (the reads of the reference's
  * `mainsnak_to_value`, ref: src/wikidataEmbed.py:104-147). The textifier,
  * the referenced-id gather and the kg9 stats read those fields: a value is
  * never written back to JSON and parsed again, which a chunked page would
  * otherwise pay once per chunk candidate.
  */
final case class Snak(
    snaktype: String, // "value" | "novalue" | "somevalue"
    datatype: String, // wikibase-item/-property, string, monolingualtext, time, quantity, ...
    value: SnakValue // decoded datavalue.value; null when no datavalue
)

/** `datavalue.value` decoded for its snak's datatype; every other field is
  * null (`precision` None):
  *  - wikibase-item/-property: `id`;
  *  - monolingualtext: `text` (the `text` field); string: `text` (the whole
  *    node);
  *  - time: `time`, `precision` (Jackson's `asInt`) and `calendarmodel` (the
  *    proleptic Gregorian default applied);
  *  - quantity: `amount` and `unit` (`"1"` when absent, null when JSON null).
  * The string fields hold Jackson's `asText` of their node (a JSON null
  * reads `"null"`, except for `unit`) and are null when the value lacks
  * them, so readers throw or fall back exactly where reading the raw node
  * did.
  */
final case class SnakValue(
    id: String = null,
    text: String = null,
    time: String = null,
    precision: Option[Int] = None,
    calendarmodel: String = null,
    amount: String = null,
    unit: String = null
)

final case class QualifierGroup(pid: String, snaks: Seq[Snak])

final case class Claim(
    mainsnak: Snak,
    qualifiers: Seq[QualifierGroup], // insertion order preserved
    rank: String // "normal" | "preferred" (deprecated already dropped)
)

final case class ClaimGroup(pid: String, claims: Seq[Claim])

/** Normalized entity (ref: src/wikidataDB.py:126-148 `normalise_item`):
  * label/description take the language value with `mul` fallback; aliases are
  * the language ∪ mul union (insertion-order dedup — the reference uses
  * Python set union whose order is unspecified, so we pin lang-then-mul
  * first-occurrence order); claims keep only `type=='statement' &&
  * rank!='deprecated'` entries.
  */
final case class Entity(
    id: String,
    label: String,
    description: String,
    aliases: Seq[String],
    claims: Seq[ClaimGroup]
)

/** ID-harvest row (ref: src/wikidataDB.py:214-221, 315-365). */
final case class IdFlag(id: String, inWikipedia: Boolean, isProperty: Boolean)

/** One exploded raw-claim row feeding the triple extractor
  * (ref: experimental_run_scripts/wikidata_datadump_statement_textification.py:333-453).
  * `valueScalar` is the reference's post-ladder scalar (id/amount/time/text/
  * coordinate string); `isQidValue` marks values that need label resolution.
  */
final case class ClaimRow(
    qid: String,
    itemDesc: String, // raw descriptions[lang].value — no mul fallback here
    pid: String,
    claimIdx: Int, // position within the pid's claim list (determinism)
    valueScalar: String,
    isQidValue: Boolean
)

/** Emitted (subj, pred, obj) triple row — reference schema
  * `…statement_textification.py:440-451` minus the embedding column.
  */
final case class Triple(
    uuid: String,
    qid: String,
    pid: String,
    value: String,
    qid_label: String,
    item_label: String,
    property_label: String,
    value_content: String,
    statement: String
)
