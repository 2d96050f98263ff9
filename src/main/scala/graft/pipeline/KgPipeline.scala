package graft.pipeline

import graft.canon.{AliasEdges, ConnectedComponents}
import graft.link.{Embedder, Linker}
import graft.model.WikidataJson
import graft.tables.{Checkpoints, Lineage, MergeTable}
import graft.triples.Triples
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG construction over the pages corpus (north_star / SURVEY.md
  * §7.1): extract → harvest → textify → mention → link → triples →
  * canonicalize → materialize nodes/edges/triples, every stage checkpointed
  * with per-partition lineage rows and MERGE-idempotent writes so a killed
  * job resumes exactly.
  *
  * One chain of nine stages serves both [[run]] and [[ingest]]. It runs over
  * a batch of pages: the whole merged corpus for `run()` and
  * `ingest(delta = false)`, only the ingested pages for
  * `ingest(delta = true)`. Every stage is keyed by the pages snapshot; in
  * delta mode its marker name takes a `delta_` prefix and two inputs
  * differ: `harvest_ids` folds in the existing flags of the touched ids,
  * and `mentions`/`link` read only the batch's rows of `texts` and
  * `mentions`.
  *
  * Wide operations, by stage:
  *  - harvest_ids: groupBy(id) (S7 OR-merge agg) — one shuffle
  *  - textify:     gather-join on (url, ref) — shuffle O(#references)
  *  - link:        equi-join mention→entity vec + top-K window
  *  - triples:     label joins (broadcast PID dim + shuffle subject/value)
  *  - canon:       iterative CC self-joins
  * Everything else is narrow and pipelines into the scan.
  *
  * Every stage commits through [[Lineage.commit]] (the commit protocol is
  * stated there once); the chain's run-scoped payload caches live in one
  * [[Checkpoints.superstep]] scope, released when the chain returns or
  * throws.
  *
  * @param retention when set, every successful `run`/`ingest` ends with
  *   [[expireHistory]]`(keepLast = retention.get)` — the storage-bound
  *   mode for incremental deployments. Opt-in (None keeps full history)
  *   because expiry trades time travel into reclaimed snapshots away.
  */
final class KgPipeline(spark: SparkSession, root: String,
                       nPages: Long = 2000,
                       failAfterStage: Option[String] = None,
                       mentionBudgetChars: Long = Linker.DefaultBroadcastBudgetChars,
                       aliasEdgeMaxIds: Option[Int] = None,
                       retention: Option[Int] = None) {
  import spark.implicits._

  // fail at construction, not after a full run: the expiry sweep's own
  // require(keepLast >= 1) would otherwise fire only during the run-end
  // maintenance pass, throwing away a completed pipeline's worth of work
  require(retention.forall(_ >= 1),
    s"retention must be >= 1 when set, got ${retention.get}")

  val pagesTbl = new MergeTable(spark, s"$root/pages", Seq("url"))
  // NOTE: keyed (id, lang) since the per-language label dimension landed —
  // a `labels` table written by the earlier id-keyed layout is NOT readable
  // in place (different bucket hashing + schema). MergeTable's manifest
  // parser enforces this: a mismatched OR unstamped on-disk bucketCols is a
  // hard error, so pointing new code at a legacy root fails fast instead of
  // silently mis-bucketing merges.
  val labelsTbl = new MergeTable(spark, s"$root/labels", Seq("id", "lang"))
  val idFlagsTbl = new MergeTable(spark, s"$root/id_flags", Seq("id"))
  // per-page tables are SCOPED by their page: re-processing a page REPLACES
  // all of its rows, so outputs that shrink (fewer mentions/chunks/triples
  // after an edit) shed their stale rows instead of merging around them
  val textsTbl = new MergeTable(spark, s"$root/texts", Seq("url"),
    scopeCols = Some(Seq("url")))
  val mentionsTbl = new MergeTable(spark, s"$root/mentions", Seq("url", "begin", "qid"),
    scopeCols = Some(Seq("url")))
  val linksTbl = new MergeTable(spark, s"$root/links", Seq("url", "begin", "rank"),
    scopeCols = Some(Seq("url")))
  val triplesTbl = new MergeTable(spark, s"$root/triples", Seq("uuid"),
    scopeCols = Some(Seq("qid")))
  val docsTbl = new MergeTable(spark, s"$root/docs", Seq("doc_id"),
    scopeCols = Some(Seq("qid")))
  val vecsTbl = new MergeTable(spark, s"$root/entity_vecs", Seq("id"),
    scopeCols = Some(Seq("id")))
  val sameAsTbl = new MergeTable(spark, s"$root/sameas", Seq("src", "dst"),
    scopeCols = Some(Seq("src")))
  // derived global artifacts are recomputed wholesale -> replace, not merge
  val canonTbl = new MergeTable(spark, s"$root/canon", Seq("id"))
  val nodesTbl = new MergeTable(spark, s"$root/nodes", Seq("id"))
  val edgesTbl = new MergeTable(spark, s"$root/edges", Seq("src", "dst", "kind"))
  val lineage = new Lineage(spark, root)

  /** Candidates kept per mention by the link stage. */
  private val LinkK = 5

  private def checkFail(stage: String): Unit =
    if (failAfterStage.contains(stage))
      throw new RuntimeException(s"injected failure after stage $stage")

  /** Run (or resume) the pipeline; returns the triples snapshot id. */
  def run(): Long = {
    // stage: ingest — the corpus lands as a MERGE table (idempotent by url)
    val pagesSnap = lineage.commit("ingest", 0L)(PagesGen.pages(spark, nPages))(pagesTbl.merge)
    checkFail("ingest")
    chain(pagesTbl.read(), pagesSnap, delta = false)
  }

  /** Incremental ingest: MERGE a batch of new/changed pages (upsert by url)
    * and run the chain against the new pages snapshot (stage markers are
    * per pages snapshot, so the chain executes exactly once).
    *
    * `delta = false` (exactness mode): every derived stage recomputes over
    * the merged corpus; MERGE-upserts converge — unchanged rows rewrite to
    * identical values (deterministic ids), changed/new rows update in place.
    *
    * `delta = true` (10^12-scale mode): per-page stages (textify, mentions,
    * link, docs, triples) process ONLY the batch's pages and MERGE their
    * rows; global artifacts (id-flag OR-merge, canonicalization, edges)
    * update from the materialized tables, never by re-reading the corpus.
    * Contract: per-page outputs of untouched pages are left as-is — a label
    * added by this batch starts matching in pages processed from now on
    * (exactly the reference's two-pass semantics, where the dictionary is
    * frozen before stage 3), and links cached against an entity whose text
    * this batch changed refresh only when their page is next touched.
    */
  def ingest(newPages: DataFrame, delta: Boolean = false): Long = {
    val pagesSnap = pagesTbl.merge(newPages)
    chain(if (delta) newPages else pagesTbl.read(), pagesSnap, delta)
  }

  /** All of the pipeline's tables, for maintenance sweeps. */
  def tables: Seq[MergeTable] = Seq(pagesTbl, labelsTbl, idFlagsTbl, textsTbl,
    mentionsTbl, linksTbl, triplesTbl, docsTbl, vecsTbl, sameAsTbl,
    canonTbl, nodesTbl, edgesTbl)

  /** Run-end table maintenance: expire every table's snapshot history down
    * to its newest `keepLast` manifests (reachability GC —
    * [[MergeTable.expireSnapshots]]). Safe AFTER a successful run: every
    * stage reads tables at their CURRENT snapshot (stage markers gate on
    * ids, not on historical reads), and the current snapshot always
    * survives — only time travel into reclaimed history is lost. Without
    * this sweep an incremental deployment grows by its churn rate forever.
    * Returns (expired manifests, deleted snapshot dirs) across all tables.
    */
  def expireHistory(keepLast: Int = 2): (Int, Int) = {
    val results = tables.filter(_.exists).map(_.expireSnapshots(keepLast))
    (results.map(_._1.size).sum, results.map(_._2.size).sum)
  }

  /** The nine stages over `batch` (see the class doc), each keyed by
    * `pagesSnap`, then the retention sweep; returns the triples snapshot id.
    */
  private def chain(batch: DataFrame, pagesSnap: Long, delta: Boolean): Long = {
    val prefix = if (delta) "delta_" else ""
    def stage(name: String)(df: => DataFrame)(write: DataFrame => Long): Long = {
      val snap = lineage.commit(prefix + name, pagesSnap)(df)(write)
      checkFail(prefix + name)
      snap
    }
    def batchOf(t: MergeTable) =
      if (delta) t.read().join(batch.select("url"), Seq("url"), "left_semi") else t.read()

    val triplesSnap = Checkpoints.superstep(spark, None) { s =>
      val payloads = s.hold(TextifyStage.payloads(spark, batch))

      // stage: harvest — per-language label dimension (id, lang, label,
      // is_property, aliases) from the corpus itself: the reference normalizes
      // the whole DB once per LANGUAGE (src/wikidataDB.py:126-148)
      stage("harvest")(TextifyStage.harvestLabels(spark, payloads))(labelsTbl.merge)

      // stage: harvest_ids — P1 explode + S7 OR-merge aggregation. A delta
      // batch folds in the existing flags of just the touched ids
      // (semi-join), so a true flag never regresses to false (readOrEmpty: a
      // delta ingest may be the root's first-ever operation); a full
      // recompute re-derives every flag from the corpus
      stage("harvest_ids") {
        val flags = entityFlags(payloads)
        orMerge(if (!delta) flags else flags.unionByName(idFlagsTbl.readOrEmpty(flags)
          .join(flags.select("id").distinct(), Seq("id"), "left_semi")))
      }(idFlagsTbl.merge)

      // one gather-join feeds BOTH textify and docs (the two renderers resolve
      // the same (url → label map) frame); holding it halves the pipeline's
      // biggest shuffle (refs explode + label join + per-url regroup)
      val resolved = s.hold(TextifyStage.withLabelMaps(spark, gatePayloads(payloads), labelsTbl.read()))

      // stage: textify — byte-identical extracted text per url (gated)
      stage("textify")(TextifyStage.renderResolved(spark, resolved))(
        textsTbl.mergeScoped(_, urlScope(batch)))

      // stage: mentions — Aho-Corasick over the label+alias trie
      stage("mentions")(mentionsOf(batchOf(textsTbl)))(mentionsTbl.mergeScoped(_, urlScope(batch)))

      // stage: link — embeddings + cosine top-K per mention
      stage("link")(linksOf(batchOf(textsTbl), batchOf(mentionsTbl), batch))(
        linksTbl.mergeScoped(_, urlScope(batch)))

      // stage: docs — token-budget chunks + embeddings into the vector-document table
      stage("docs")(docsOf(resolved))(docsTbl.mergeScoped(_, idScope(batch, "qid")))

      // stage: triples — statement extraction with label-resolution joins
      val triplesSnap = stage("triples")(triplesOf(payloads))(
        triplesTbl.mergeScoped(_, idScope(batch, "qid")))

      // stage: canon — CC over sameAs edges, canonical = min id per component
      stage("canon")(canonOf(payloads, batch))(canonTbl.replace)

      // stage: materialize — nodes + edges with canonical ids rewritten
      stage("materialize")(materialize())(edgesTbl.replace)
      triplesSnap
    }
    retention.foreach(expireHistory(_))
    triplesSnap
  }

  /** Per-entity (id, in_wikipedia, is_property) flags of a payload set. */
  private def entityFlags(payloads: Dataset[PagePayload]): DataFrame =
    payloads
      .flatMap(pp => WikidataJson.parseLine(pp.payload).toSeq.flatMap(WikidataJson.extractEntityIds(_, "en")))
      .toDF("id", "in_wikipedia", "is_property")

  /** S7 OR-merge: one row per id, a flag true if any row has it true. */
  private def orMerge(flags: DataFrame): DataFrame =
    flags.groupBy("id")
      .agg(max("in_wikipedia").as("in_wikipedia"), max("is_property").as("is_property"))

  /** Mentions over `texts`, with the trie built via the size-guarded sharded
    * path (single broadcast while the dictionary fits, hash-sharded
    * multi-pass beyond the budget — never an unguarded full-dimension
    * collect).
    */
  private def mentionsOf(texts: DataFrame): DataFrame =
    Linker.mentionsSharded(spark, texts, Linker.mentionDict(labelsTbl.read()),
      broadcastBudgetChars = mentionBudgetChars)

  /** Top-K links of `mentions`. Entity vectors of `texts` first land in
    * their own MERGE table (scoped to `pages`), so delta ingests embed only
    * touched pages, never the whole corpus.
    */
  private def linksOf(texts: DataFrame, mentions: DataFrame, pages: DataFrame): DataFrame = {
    vecsTbl.mergeScoped(Embedder.embedDataset(
      texts.select("id", "text").as[(String, String)]).toDF("id", "vec"),
      idScope(pages, "id"))
    Linker.link(spark, mentions, vecsTbl.read(), LinkK)
  }

  /** Token-budget chunking + batched embedding, deterministic
    * _id = qid_lang_chunkIdx (the reference's stage 3:
    * docker/3_Add_Wikidata_to_AstraDB/run.py:65-93, chunk T6, sink S8 —
    * upsert by _id replaces the infinite-retry push). Label resolution is
    * the gather-join (`resolved`), not a driver collect of the label
    * dimension.
    */
  private def docsOf(resolved: Dataset[(PagePayload, Map[String, String])]): DataFrame = {
    val chunks = TextifyStage.renderChunksResolved(spark, resolved, maxTokens = 120)
    Embedder.embedDataset(
      chunks.select("doc_id", "text").as[(String, String)]).toDF("doc_id", "vec")
      .join(chunks, Seq("doc_id"))
  }

  private def triplesOf(payloads: Dataset[PagePayload]): DataFrame =
    Triples.fromLines(spark, payloads.map(_.payload),
      labelsTbl.read().filter(col("lang") === "en").select("id", "label"))

  /** The canon stage body: the batch's sameAs edges land in their own MERGE
    * table first (scoped to `pages`), so a delta ingest extends the edge set
    * without re-parsing the corpus; then CC over the whole (edge-set-sized)
    * table — O(graph), not O(corpus).
    */
  private def canonOf(payloads: Dataset[PagePayload], pages: DataFrame): DataFrame = {
    sameAsTbl.mergeScoped(AliasEdges.sameAsEdges(payloads), idScope(pages, "src"))
    val nodes = labelsTbl.read().filter(col("lang") === "en").select("id")
    // optional alias-identity candidate edges (north-star "alias/sameAs
    // edges"): gated + chained, see AliasEdges; off by default because
    // shared-surface identity is a policy choice, not dump semantics
    val edges = aliasEdgeMaxIds.fold(sameAsTbl.read()) { maxIds =>
      sameAsTbl.read().unionByName(AliasEdges.edges(labelsTbl.read(), maxIds = maxIds))
    }
    ConnectedComponents.run(spark, edges, nodes).withColumnRenamed("component", "canonical")
  }

  /** The materialize stage body, fully table-driven (it reads no batch):
    * replaces `nodes` as a side write and returns the edges frame.
    */
  private def materialize(): DataFrame = {
    val canon = canonTbl.read()
    nodesTbl.replace(labelsTbl.read().filter(col("lang") === "en")
      .join(canon, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical"), col("id")).as("canonical"),
        col("label"), col("is_property")))

    val linkEdges = linksTbl.read().filter(col("rank") === 1)
      .join(textsTbl.read().select(col("url"), col("id").as("src")), Seq("url"))
      .select(col("src"), col("qid").as("dst"), lit("mentions").as("kind"))
    val sameAs = sameAsTbl.read().withColumn("kind", lit("sameAs"))
    val canonSrc = canon.select(col("id").as("src"), col("canonical").as("src_canon"))
    val canonDst = canon.select(col("id").as("dst"), col("canonical").as("dst_canon"))
    linkEdges.unionByName(sameAs)
      .join(canonSrc, Seq("src"), "left")
      .join(canonDst, Seq("dst"), "left")
      .select(
        coalesce(col("src_canon"), col("src")).as("src"),
        coalesce(col("dst_canon"), col("dst")).as("dst"),
        col("kind"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** The J4 driving gate: only in_wikipedia entities are textified/chunked,
    * exactly the reference's stage-3 driving scan
    * (docker/3_Add_Wikidata_to_AstraDB/run.py:61). url=…/wiki/{id} is the
    * pages contract, so the gate is an equi-semi-join on the trailing id.
    */
  private def gatePayloads(payloads: Dataset[PagePayload]): Dataset[PagePayload] = {
    val inWiki = idFlagsTbl.read().filter(col("in_wikipedia")).select(col("id").as("_gid"))
    payloads
      .joinWith(inWiki, substring_index(payloads("url"), "/", -1) === col("_gid"), "inner")
      .map(_._1)
  }

  /** Processed-scope frames: EVERY page in `pages` counts as processed, so
    * a scope-replace merge deletes rows of pages that yielded nothing this
    * time (gated out, unparseable, or simply shrunken output). The id is the
    * url's trailing segment per the pages contract.
    */
  private def urlScope(pages: DataFrame): DataFrame = pages.select(col("url"))
  private def idScope(pages: DataFrame, as: String): DataFrame =
    pages.select(substring_index(col("url"), "/", -1).as(as))
}
