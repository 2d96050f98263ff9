package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import graft.model.{Entity, WikidataJson}
import graft.textify.{LangVariant, Textifier}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One page whose HTML carried an entity payload. */
final case class PagePayload(url: String, lang: String, payload: String)

/** Distributed textification with *joined* label resolution.
  *
  * The reference resolves every label with a row-at-a-time SQLite point
  * lookup inside the render loop (src/wikidataEmbed.py:72-75,115-122). A
  * broadcast map works until the label dimension outgrows executor memory;
  * the scale-safe shape used here is the gather-join:
  *
  *   1. per page, emit (url, referencedId) — tens of rows per page;
  *   2. inner-join the label dimension (shuffle moves only (url,id,label));
  *   3. regroup to (url, Map[id → label]) — each page's private dictionary;
  *   4. join back and render with a pure Textifier whose `labelOf` reads the
  *      per-row map (absence in map = entity absent, exactly the reference's
  *      `get_entity → None` claim-drop semantics).
  *
  * Shuffle volume is O(#references), never O(dictionary), and no broadcast
  * of the 9.2M-entity label table is needed.
  */
object TextifyStage {

  /** Every entity id whose label the textifier may need: claim PIDs,
    * qualifier PIDs, wikibase-item/-property values, quantity unit QIDs.
    */
  def referencedIds(e: Entity): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    def snakIds(s: graft.model.Snak): Unit = {
      val v = s.value
      if (v != null) s.datatype match {
        case "wikibase-item" | "wikibase-property" =>
          if (v.id != null) out += v.id
        case "quantity" =>
          // a JSON-null unit renders as the bare amount: no label to look up
          if (v.unit != null && v.unit != "1") out += v.unit.substring(v.unit.lastIndexOf('/') + 1)
        case _ =>
      }
    }
    e.claims.foreach { cg =>
      out += cg.pid
      cg.claims.foreach { c =>
        snakIds(c.mainsnak)
        c.qualifiers.foreach { qg => out += qg.pid; qg.snaks.foreach(snakIds) }
      }
    }
    out.toSeq
  }

  /** pages(url, html, lang) → (url, lang, payload). */
  def payloads(spark: SparkSession, pages: DataFrame): Dataset[PagePayload] = {
    import spark.implicits._
    pages.select("url", "html", "lang").as[(String, Array[Byte], String)]
      .flatMap { case (url, html, lang) =>
        PagesGen.extractPayload(html).map(p => PagePayload(url, lang, p))
      }
  }

  /** The data languages the pipeline materializes (the reference runs one
    * full pipeline per LANG, src/wikidataDB.py:126-148; rdf/json variants
    * read en data).
    */
  val dataLangs: Seq[String] = Seq("en", "de", "ar")

  /** Harvest the per-language label dimension from the corpus itself (both
    * item and property pages): (id, lang, label, is_property, aliases) — one
    * row per entity × data language, label/aliases picked with that
    * language's mul fallback exactly like the reference's per-LANG
    * normalization.
    */
  def harvestLabels(spark: SparkSession, payloads: Dataset[PagePayload]): DataFrame = {
    import spark.implicits._
    payloads.flatMap { pp =>
      WikidataJson.parseLine(pp.payload).toSeq.flatMap { item =>
        val isProp = item.path("type").asText("") == "property"
        val id = item.path("id").asText()
        // labelAliases, not normalize: one claims parse per lang would
        // triple the harvest CPU for data the dimension doesn't store
        dataLangs.map { lang =>
          val (label, al) = WikidataJson.labelAliases(item, lang)
          (id, lang, label, isProp, al)
        }
      }
    }.toDF("id", "lang", "label", "is_property", "aliases")
  }

  /** Gather-join construction counter — lets the pipeline spec pin that a
    * full run builds this frame ONCE (textify and docs share it; combined
    * with the pipeline's persist, the refs shuffle executes once per run).
    */
  private[graft] val gatherJoinCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Gather-join steps 1–3: each page paired with its private
    * (id → label) dictionary IN THE PAGE'S DATA LANGUAGE — the labels
    * dimension is (id, lang, label) and each page's references join against
    * its own variant's data language (the reference resolves value labels
    * from the per-LANG-normalized DB). Shared by [[render]] and
    * [[renderChunksResolved]]. Each call bumps [[gatherJoinCalls]].
    */
  def withLabelMaps(spark: SparkSession, payloads: Dataset[PagePayload], labels: DataFrame)
      : Dataset[(PagePayload, Map[String, String])] = {
    import spark.implicits._
    gatherJoinCalls.incrementAndGet()

    val refs = payloads.flatMap { pp =>
      WikidataJson.parseLine(pp.payload).toSeq.flatMap { item =>
        val e = WikidataJson.normalize(item, "en") // claims are lang-independent
        val dl = LangVariant.dataLang(pp.lang)
        referencedIds(e).map(r => (pp.url, r, dl))
      }
    }.toDF("url", "ref", "ref_lang")

    val labelMaps = refs
      .join(labels.select(col("id"), col("lang"), col("label")),
        col("ref") === col("id") && col("ref_lang") === col("lang"), "inner")
      .groupBy("url")
      .agg(map_from_entries(collect_list(struct(col("ref"), col("label")))).as("label_map"))
      .as[(String, Map[String, String])]

    payloads
      .joinWith(labelMaps, payloads("url") === labelMaps("url"), "left")
      .map { case (pp, resolved) =>
        (pp, Option(resolved).map(_._2).getOrElse(Map.empty[String, String]))
      }
  }

  /** The per-page render every textify path shares: `item` normalized in
    * the data language of variant `lang`, and the variant's [[Textifier]]
    * resolving each referenced id through `labelOf(id, dataLang)`.
    */
  def pageTextifier(item: JsonNode, lang: String,
                    labelOf: (String, String) => Option[String]): (Entity, Textifier) = {
    val dl = LangVariant.dataLang(lang)
    (WikidataJson.normalize(item, dl), new Textifier(LangVariant(lang), labelOf(_, dl)))
  }

  /** Render extracted text per page — byte-identical to the reference's
    * serialization for that page's entity and language variant, with the
    * entity normalized in the variant's DATA language (per-LANG pipeline
    * semantics). Output: (url, id, lang, text). Unparseable payloads are
    * dropped (the same None-semantics as every other stage's flatMap — one
    * dirty page must not abort a corpus-scale run).
    */
  def render(spark: SparkSession, payloads: Dataset[PagePayload], labels: DataFrame): DataFrame =
    renderResolved(spark, withLabelMaps(spark, payloads, labels))

  /** [[render]] over an ALREADY label-resolved frame — the pipeline computes
    * [[withLabelMaps]] once (persisted) and feeds both this and
    * [[renderChunksResolved]], so the refs-explode + label shuffle + per-url
    * regroup — the pipeline's biggest shuffle — executes once per run, not
    * once per consuming stage.
    */
  def renderResolved(spark: SparkSession,
                     resolved: Dataset[(PagePayload, Map[String, String])]): DataFrame = {
    import spark.implicits._
    resolved.flatMap { case (pp, labelMap) =>
      WikidataJson.parseLine(pp.payload).map { item =>
        val (entity, textifier) = pageTextifier(item, pp.lang, (id, _) => labelMap.get(id))
        (pp.url, entity.id, pp.lang, textifier.entityToText(entity))
      }
    }.toDF("url", "id", "lang", "text")
  }

  /** Token-budget chunk explode per page (P9/T6 — the reference's stage 3
    * chunker, docker/3_Add_Wikidata_to_AstraDB/run.py:74-88) over an
    * already label-resolved frame: the SAME gather-join label resolution as
    * [[render]] (see [[renderResolved]] for why the pipeline shares it), so
    * the docs stage survives a 9.2M-entity (or 100×) dictionary. Output:
    * (doc_id, qid, lang, chunk, text) with deterministic doc_id =
    * qid_lang_chunkIdx.
    */
  def renderChunksResolved(spark: SparkSession,
                           resolved: Dataset[(PagePayload, Map[String, String])],
                           maxTokens: Int): DataFrame =
    explodeChunks(chunkArrays(spark, resolved, maxTokens))

  /** The non-SQL chunking kernel as one row per entity: (qid, lang,
    * chunks array). The explode + deterministic id assignment that follows
    * is relational — this frame is kg6's oracle seam.
    */
  def chunkArrays(spark: SparkSession,
                  resolved: Dataset[(PagePayload, Map[String, String])],
                  maxTokens: Int): DataFrame = {
    import spark.implicits._
    resolved.flatMap { case (pp, labelMap) =>
      WikidataJson.parseLine(pp.payload).toSeq.map { item =>
        val (e, textifier) = pageTextifier(item, pp.lang, (id, _) => labelMap.get(id))
        val tok = new graft.textify.SimpleTokenizer(8)
        (e.id, pp.lang, graft.textify.Chunker.chunkText(textifier, e, tok, maxTokens))
      }
    }.toDF("qid", "lang", "chunks")
  }

  /** Chunk explode + id assignment as Catalyst expressions (posexplode →
    * `qid_lang_idx`): narrow, codegen-friendly, DuckDB-replayable.
    * Entities with zero chunks vanish (posexplode of an empty array).
    */
  def explodeChunks(arrays: DataFrame): DataFrame =
    arrays
      .select(col("qid"), col("lang"), posexplode(col("chunks")).as(Seq("idx0", "text")))
      .select(
        concat_ws("_", col("qid"), col("lang"), col("idx0") + 1).as("doc_id"),
        col("qid"), col("lang"), (col("idx0") + 1).as("chunk"), col("text"))
}
