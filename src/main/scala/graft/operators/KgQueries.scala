package graft.operators

import graft.canon.AliasEdges
import graft.link.{Embedder, Linker}
import graft.model.{Snak, WikidataJson}
import graft.pipeline.{PagesGen, TextifyStage}
import graft.tables.Checkpoints
import graft.triples.Triples
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KG-pipeline stages exposed as standalone queries for the driver's
  * per-round verify/bench. The pages corpus is self-generated
  * (deterministic, seeded — the testdata dir has no pages table), so these
  * are rows-only checks; their semantics are pinned by the golden suite and
  * KgPipelineSpec. They are also the headline bench workloads: parse +
  * textify + trie matching are the CPU-heavy narrow stages, triples/link the
  * join-heavy wide ones.
  */
object KgQueries {

  val nPages = 1500L

  /** The kg corpus is self-generated, so DuckDB has no parquet to oracle
    * against — EXCEPT when the deterministic pre-relational frames are
    * materialized for it; see [[OracleFrames]].
    */
  private def materializeForOracle(df: DataFrame, name: String): DataFrame =
    OracleFrames.materialize(df, name)

  private def payloads(spark: SparkSession) =
    TextifyStage.payloads(spark, PagesGen.pages(spark, nPages))

  /** Per-language label dimension (id, lang, label, is_property, aliases). */
  private def labels(spark: SparkSession): DataFrame =
    TextifyStage.harvestLabels(spark, payloads(spark))

  private def labelsEn(spark: SparkSession): DataFrame =
    labels(spark).filter(col("lang") === "en")

  /** Extract + textify: byte-identical text per url. */
  def extractText(spark: SparkSession, dir: String): DataFrame =
    TextifyStage.render(spark, payloads(spark), labels(spark))

  /** Mention detection over already-extracted texts. Under graft.Verify the
    * resolved pre-explode mention frame (url, self_id, surface, span, qids,
    * context) is materialized: the trie match is the non-SQL kernel, and the
    * DuckDB oracle replays the candidate explode (self-drop + sort + cap +
    * unnest) as kg2's hard check.
    */
  private def mentionsOf(spark: SparkSession, texts: DataFrame, labelsDf: DataFrame): DataFrame =
    Linker.explodeCandidates(
      materializeForOracle(
        Linker.resolvedMentions(spark, texts, Linker.mentionDict(labelsDf)), "kg2_mentions_raw"))

  /** Mention detection over the extracted text. */
  def mentions(spark: SparkSession, dir: String): DataFrame = {
    val labelsDf = labels(spark)
    mentionsOf(spark, TextifyStage.render(spark, payloads(spark), labelsDf), labelsDf)
  }

  /** (url, qid) for every candidate of every resolved mention over the
    * extracted text — the entity co-occurrence input of the graph queries.
    * `oracleFrame` names the resolved frame materialized for the oracle.
    */
  private def urlQid(spark: SparkSession, oracleFrame: Option[String] = None): DataFrame = {
    val labelsDf = labels(spark)
    val resolved = Linker.resolvedMentions(spark,
      TextifyStage.render(spark, payloads(spark), labelsDf), Linker.mentionDict(labelsDf))
    Linker.explodeCandidates(oracleFrame.fold(resolved)(materializeForOracle(resolved, _)))
      .select("url", "qid")
  }

  /** Entity-link scoring: top-K per mention. The texts dataset is computed
    * once and held — mention detection AND entity-vector embedding both
    * read it, so extract/textify no longer runs twice per links query.
    * Under graft.Verify the context-embedded mention frame and the entity
    * vec table are materialized, so the DuckDB oracle replays the relational
    * half (candidate equi-join + bit-exact cosine + per-mention top-K
    * window) as a hard rows+schema+hash check. The join/score/top-K plan
    * itself is pinned on the scoreTopK seam in PlanShapeSpec.
    */
  def links(spark: SparkSession, dir: String): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      val labelsDf = labels(spark)
      val texts = s.hold(TextifyStage.render(spark, payloads(spark), labelsDf))
      s.materialize(Linker.scoreTopK(
        materializeForOracle(Linker.contextVecs(mentionsOf(spark, texts, labelsDf)), "kg3_mentions"),
        materializeForOracle(entityVecsOf(spark, texts), "kg3_vecs"),
        k = 5)
        .withColumn("score", round(col("score"), 6)))
    }

  /** Item-text embeddings (id, vec) over the rendered texts. */
  private def entityVecsOf(spark: SparkSession, texts: DataFrame): DataFrame = {
    import spark.implicits._
    Embedder.embedDataset(texts.select("id", "text").as[(String, String)]).toDF("id", "vec")
  }

  /** LSH-candidate entity linking (the north-star's "LSH candidate
    * generation"): mention contexts and entity item-texts sign-bucketed with
    * shared md5-derived hyperplanes, same-bucket equi-join, exact rescoring,
    * per-mention top-K. Under graft.Verify the embedded mention frame and
    * entity vecs are materialized; the DuckDB oracle recomputes the planes,
    * buckets, join, cosine and window from them (hard rows+schema+hash).
    */
  def linksLsh(spark: SparkSession, dir: String): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      val labelsDf = labels(spark)
      val texts = s.hold(TextifyStage.render(spark, payloads(spark), labelsDf))
      val resolved = Linker.resolvedMentions(spark, texts, Linker.mentionDict(labelsDf))
      // bits=10: this corpus' embeddings are CORRELATED (shared vocabulary),
      // so 6-bit buckets collided ~3x above the uniform estimate and the
      // candidate stream hit ~5M rows; 1024 buckets keep it ~100k. bits is
      // the recall-vs-candidate-volume dial — tune per corpus.
      // linkLshScored materializes its result, so nothing reads the texts
      // after it returns
      Linker.linkLshScored(
        materializeForOracle(Linker.embedMentions(resolved), "kg11_mentions"),
        materializeForOracle(entityVecsOf(spark, texts), "kg11_vecs"),
        k = 5, bits = 10, tables = 6, dimLen = graft.link.Embedder.dim)
        .withColumn("score", round(col("score"), 6))
    }

  /** The corpus payloads parsed to en claim rows (the non-SQL kernel of
    * kg4/kg13/kg18/kg29).
    */
  private def claimRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    payloads(spark).map(_.payload).flatMap(WikidataJson.claimRowsOf(_)).toDF()
  }

  /** Triple extraction over the corpus payloads. Under graft.Verify the
    * parsed claim-rows and label frames are materialized so the DuckDB
    * oracle replays the join/render half (see [[OracleFrames]]).
    */
  def triples(spark: SparkSession, dir: String): DataFrame = {
    Triples.fromClaimRows(spark,
      materializeForOracle(claimRows(spark), "kg4_claim_rows"),
      materializeForOracle(labelsEn(spark).select("id", "label"), "kg4_labels"))
  }

  /** Canonicalization mapping (connected components over sameAs). Under
    * graft.Verify the edge and node frames are materialized and the DuckDB
    * oracle recomputes the components INDEPENDENTLY (recursive-CTE
    * transitive closure + min-label) — a from-first-principles check of the
    * pointer-jumped iterative-join implementation, not a replay of it.
    */
  def canon(spark: SparkSession, dir: String): DataFrame = {
    val sameAs = AliasEdges.sameAsEdges(payloads(spark))
    val nodes = labelsEn(spark).select("id")
    graft.canon.ConnectedComponents.run(spark,
      materializeForOracle(sameAs, "kg5_edges"),
      materializeForOracle(nodes, "kg5_nodes"))
      .filter(col("id") =!= col("component")) // only non-trivial mappings
  }

  /** SURVEY.md §7.3's literal end-to-end query: all (subj, pred, obj) for a
    * given url. The url→qid mapping is the pages table's contract
    * (url = …/wiki/{qid}), so this is a pushed-down filter on the subject
    * key — at scale a bucket-pruned point read of the triples table.
    */
  def triplesForUrl(spark: SparkSession, dir: String,
                    url: String = PagesGen.urlOf(PagesGen.qid(7))): DataFrame = {
    val qid = url.substring(url.lastIndexOf('/') + 1)
    triples(spark, dir).filter(col("qid") === qid)
      .withColumn("url", lit(url))
  }

  /** Uniqueness-constraint QA (Wikidata's "single-value constraint", the
    * canonicalization-stage conflict detector): every (qid, pid) carrying
    * more than one distinct value, with the value set pinned as a sorted
    * join (deterministic under any partitioning). One groupBy over the
    * claim rows — at corpus scale this is a map-side-combined aggregate on
    * the same (qid, pid) key the triple table is bucketed by.
    */
  def conflicts(spark: SparkSession, dir: String): DataFrame = {
    materializeForOracle(claimRows(spark).select("qid", "pid", "valueScalar"), "kg13_claim_rows")
      .groupBy("qid", "pid")
      .agg(countDistinct("valueScalar").as("n_values"),
        concat_ws("|", array_sort(collect_set(col("valueScalar")))).as("values"))
      .filter(col("n_values") > 1)
  }

  /** Referential-integrity QA: per property, how many QID-valued statements
    * resolve to a known entity and how many dangle (no label row for the
    * target). The claim-row parse (incl. the isQidValue flag) is the
    * non-SQL kernel and is materialized; the DuckDB oracle replays the
    * left join + conditional aggregation as a hard check. On this
    * self-consistent generated corpus n_dangling is legitimately 0 for
    * every pid — the per-pid n_refs/n_resolved rows keep the gate
    * non-degenerate, and DanglingRefsSpec plants a broken reference to
    * prove the dangling column actually fires. At corpus scale this is
    * one shuffle join on the target id — the same key the label dim is
    * bucketed by.
    */
  def dangling(spark: SparkSession, dir: String): DataFrame = {
    val qidRefs = materializeForOracle(
      claimRows(spark).filter(col("isQidValue")).select("qid", "pid", "valueScalar"),
      "kg18_qid_refs")
    val known = materializeForOracle(
      labelsEn(spark).select(col("id")).distinct(), "kg18_known_ids")
    danglingStats(qidRefs, known)
  }

  /** The join/aggregate half of kg18 over (pid, valueScalar) refs and a
    * known-id dim — the seam DanglingRefsSpec drives with planted danglers.
    */
  def danglingStats(qidRefs: DataFrame, known: DataFrame): DataFrame =
    qidRefs
      .join(known, qidRefs("valueScalar") === known("id"), "left")
      .groupBy("pid")
      .agg(count(lit(1)).as("n_refs"),
        count(known("id")).as("n_resolved"),
        (count(lit(1)) - count(known("id"))).as("n_dangling"))

  /** Triangle census of the entity co-occurrence graph (pairs sharing ≥ 2
    * pages): the "graph materialize" QA query — built from the SAME resolved
    * mention frame the link stages use, oriented degree-first so hubs never
    * go quadratic (see [[GraphOps.triangles]]). The DuckDB oracle replays
    * candidate explode → pair join → orientation → wedge-close from the
    * materialized mention frame.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    GraphOps.triangles(GraphOps.cooccurEdges(urlQid(spark, Some("kg14_mentions")), minShared = 2))

  /** Exact-integer PageRank over the symmetrized co-occurrence graph (the
    * "which entities anchor this corpus" query). The edge build is the
    * materialized seam (kg15_edges); the DuckDB oracle replays all ten
    * iterations of the SAME integer arithmetic — see
    * [[GraphOps.pageRankInt]] for why integer, [[SparkEntry.oracleSql]]
    * kg15 for the unrolled SQL.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    GraphOps.pageRankInt(hubGraph(spark, dir, "kg15_edges", cost = None)._1, iters = 10)

  /** Top-50 most-associated entity pairs by lift (the "which entities
    * belong together" mining query). The distinct (url, qid) frame is the
    * materialized seam (kg17_urlqid); the oracle recomputes counts, pairs,
    * the two IEEE-double ops and the ranked cut — see
    * [[GraphOps.liftScores]] for why lift and not log-PMI.
    */
  def lift(spark: SparkSession, dir: String): DataFrame =
    GraphOps.liftScores(materializeForOracle(urlQid(spark).distinct(), "kg17_urlqid"), minShared = 2)
      .orderBy(col("lift").desc, col("a"), col("b")).limit(50)

  /** Bounded-hop BFS from the 3 highest-degree hub entities of the
    * co-occurrence graph (ties by id) — the "how far is everything from
    * the corpus anchors" QA query. The edge build is the materialized seam
    * (kg16_edges); seeds and all 3 hops are replayed by the DuckDB oracle
    * as chained CTEs — see [[GraphOps.bfsDistances]].
    */
  def bfs(spark: SparkSession, dir: String): DataFrame = {
    val (edges, seeds) = hubGraph(spark, dir, "kg16_edges", cost = None)
    GraphOps.bfsDistances(edges, seeds, maxHops = 3)
  }

  /** kg30: deterministic random-walk corpus over the co-occurrence graph —
    * the node-embedding training-data generator (see
    * [[GraphOps.randomWalks]]); the oracle replays every seeded hop from
    * the materialized edge frame as chained CTEs.
    */
  def walks(spark: SparkSession, dir: String): DataFrame = {
    val (edges, _) = hubGraph(spark, dir, "kg30_edges", cost = None)
    GraphOps.randomWalks(edges, walkLen = 3)
  }

  /** kg31: skip-gram co-visit pairs over the kg30 walks (its own edge
    * frame so the two oracles replay independently). The walk frame is
    * eagerly checkpointed before the self-join — otherwise both join sides
    * would re-run the mention front-end and every hop.
    */
  def walkPairs(spark: SparkSession, dir: String): DataFrame = {
    val (edges, _) = hubGraph(spark, dir, "kg31_edges", cost = None)
    GraphOps.skipGramPairs(
      GraphOps.randomWalks(edges, walkLen = 3).localCheckpoint(true))
  }

  /** Shared kg15/kg16/kg25 traversal setup: the symmetrized co-occurrence
    * edge frame (optionally cost-weighted), materialized for the oracle
    * under `frameName`, plus the top-3 out-degree hub seeds (ties by id;
    * lazy, so a caller that drops them pays nothing). One builder so the
    * graph queries — and their chained-CTE oracles, which replay this exact
    * seed selection — can never diverge.
    */
  private def hubGraph(spark: SparkSession, dir: String, frameName: String,
                       cost: Option[Column]): (DataFrame, DataFrame) = {
    // checkpoint the undirected edges ONCE: both union branches, the seeds
    // and every frame the traversal derives would otherwise re-run the
    // mention front-end per reference in bench mode (materializeForOracle
    // is a pass-through there)
    val und = GraphOps.cooccurEdges(urlQid(spark), minShared = 2).localCheckpoint(true)
    val costCols = cost.map(_.as("cost")).toSeq
    val sym = und.select(col("a").as("src") +: col("b").as("dst") +: costCols: _*)
      .unionByName(und.select(col("b").as("src") +: col("a").as("dst") +: costCols: _*))
    val edges = materializeForOracle(sym, frameName)
    // degree in the symmetric frame = out-degree; top-3, ties by id
    val seeds = edges.select("src", "dst").distinct()
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("id").asc).limit(3).select("id")
    (edges, seeds)
  }

  /** Qualifier + reference sub-triples (P6, notebook get_triplets semantics):
    * one row per main/qualifier/reference part, golden-pinned by
    * TripletsGoldenSpec against executing the reference notebook's own code.
    */
  def triplets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.triples.Triplets.rows(spark, payloads(spark).map(_.payload))
  }

  /** KG corpus stats (A1, ref notebooks/Get_Wikidata_Stats.py:100-371) — ALL
    * of the reference's counter families, emitted from ONE narrow pass over
    * the corpus into a single (stat, key) groupBy/count (map-side partial
    * aggregation for free; one shuffle total):
    *
    *  - item_type: entities by id prefix (Q/P) — `item_type` (:180);
    *  - claims_per_pid / instances_per_class / sitelinks_per_site (round-2
    *    families, spec-pinned semantics: claim ROWS per pid, no qualifier
    *    pids);
    *  - wikipedia_per_lang: languages of `*wiki` sitelinks, plus the 'total'
    *    row counting entities with ≥1 wikipedia link (`wikipedia_lang`,
    *    :341,359);
    *  - labels_per_lang / descs_per_lang / labeldesc_per_lang: label langs,
    *    description langs, and their intersection per entity
    *    (`wikidata_label_lang`/`wikidata_desc_lang`/`wikidata_lang`,
    *    :344-350);
    *  - *_wikionly: labeldesc/claims/instances restricted to entities with a
    *    wikipedia link (`wikidata_lang_wikionly`/`claim_pid_wikionly`/
    *    `instance_of_wikionly`, :362-368);
    *  - labeldesc_wikipedia_per_lang: labeldesc langs that are ALSO wikipedia
    *    langs of the same entity (`wikidata_wikipedia_lang`, :371).
    *
    * Counting runs over the DB-cleaned claims of EVERY item (type ==
    * statement, deprecated dropped — the reference's stats walk the stored
    * `wikidata` table), NOT over the statement-extractor rows: those gate on
    * `descriptions[lang]` and drop novalue/somevalue claims, which would
    * silently undercount entities the extractor skips. Like the reference,
    * every family except item_type gates on id prefix 'Q' (:182).
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val statRows = payloads(spark).flatMap { pp =>
      WikidataJson.parseLine(pp.payload).toSeq.flatMap { item =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val id = item.path("id").asText("")
        if (id.nonEmpty) out += (("item_type", id.substring(0, 1)))
        if (id.startsWith("Q")) {
          def langKeys(field: String): Seq[String] = {
            val o = item.path(field)
            if (o.isObject) o.properties().iterator().asScala.map(_.getKey).toSeq
            else Seq.empty
          }
          val sites = langKeys("sitelinks")
          sites.foreach(s => out += (("sitelinks_per_site", s)))
          // ref get_wikipedia_lang: s.split('wiki')[0] — everything before
          // the FIRST 'wiki', gated on endswith('wiki') (:100-108)
          val wikiLangs = sites.filter(_.endsWith("wiki"))
            .map(s => s.substring(0, s.indexOf("wiki"))).distinct
          val hasWiki = wikiLangs.nonEmpty
          wikiLangs.foreach(l => out += (("wikipedia_per_lang", l)))
          if (hasWiki) out += (("wikipedia_per_lang", "total"))

          val labelLangs = langKeys("labels")
          val descLangs = langKeys("descriptions")
          labelLangs.foreach(l => out += (("labels_per_lang", l)))
          descLangs.foreach(l => out += (("descs_per_lang", l)))
          val both = labelLangs.filter(descLangs.toSet)
          both.foreach { l =>
            out += (("labeldesc_per_lang", l))
            if (hasWiki) out += (("labeldesc_per_lang_wikionly", l))
          }
          val wikiSet = wikiLangs.toSet
          both.filter(wikiSet).foreach(l => out += (("labeldesc_wikipedia_per_lang", l)))

          WikidataJson.normalize(item, "en").claims.foreach { cg =>
            cg.claims.foreach { c =>
              out += (("claims_per_pid", cg.pid))
              if (hasWiki) out += (("claims_per_pid_wikionly", cg.pid))
              instanceClass(cg.pid, c.mainsnak).foreach { vq =>
                out += (("instances_per_class", vq))
                if (hasWiki) out += (("instances_per_class_wikionly", vq))
              }
            }
          }
        }
        out
      }
    }.toDF("stat", "key")
    materializeForOracle(statRows, "kg9_stat_rows")
      .groupBy("stat", "key").agg(count(lit(1)).as("n"))
      .select("stat", "key", "n")
  }

  /** kg9's `instances_per_class` key of one claim: the id of a P31
    * `wikibase-item` value that has one.
    */
  def instanceClass(pid: String, mainsnak: Snak): Option[String] =
    if (pid == "P31" && mainsnak.datatype == "wikibase-item" && mainsnak.value != null)
      Option(mainsnak.value.id)
    else None

  /** Stage-6 HF export rows over the corpus (S13 row semantics, golden-pinned
    * by HfExportGoldenSpec): (split, id, labels, descriptions, aliases,
    * sitelinks, claims) with compact-json string columns. rowsPerSplit sized
    * so the bench corpus exercises multiple splits.
    */
  def hfExport(spark: SparkSession, dir: String): DataFrame =
    graft.export.HfExport.export(spark, payloads(spark), rowsPerSplit = 500L)

  /** The hash-split export mode under its own hard gate (kg12): same
    * rendered rows as kg10, but split assignment is the md5-derived narrow
    * map — the 10^12-row path with no global window. The DuckDB oracle
    * recomputes the split from the materialized rendered rows.
    */
  def hfExportHashed(spark: SparkSession, dir: String): DataFrame =
    graft.export.HfExport.exportHashSplits(spark, payloads(spark), nSplits = 8)

  /** Chunk explode (P9/T6): entity text → token-budget chunks with
    * deterministic ids `qid_lang_chunkIdx` (ref: docker/3:74-88). Label
    * resolution via the gather-join — no driver collect of the dictionary.
    * Under graft.Verify the per-entity chunk arrays (the Scala chunking
    * kernel, golden-pinned) are materialized and the DuckDB oracle replays
    * the explode + id assignment.
    */
  def chunks(spark: SparkSession, dir: String, maxTokens: Int = 60): DataFrame = {
    import spark.implicits._
    // kg6 chunks every page as the en variant
    val enPages = payloads(spark).map(_.copy(lang = "en"))
    val arrays = TextifyStage.chunkArrays(spark,
      TextifyStage.withLabelMaps(spark, enPages, labels(spark)), maxTokens)
    TextifyStage.explodeChunks(materializeForOracle(arrays, "kg6_chunk_arrays"))
      .select(col("doc_id").as("chunk_id"), col("qid"), col("chunk"), col("text"))
  }

  // ───────────────────────── incremental crawl (crawl 2) ─────────────────

  /** Both crawls stacked — the multi-snapshot corpus the incremental
    * operators consume. Crawl 2 ([[PagesGen.pagesDelta]]) re-fetches ~⅓ of
    * the urls a day later with deterministic change families.
    */
  private def pagesBoth(spark: SparkSession): DataFrame =
    PagesGen.pages(spark, nPages).unionByName(PagesGen.pagesDelta(spark, nPages))

  /** kg19: crawl-snapshot consolidation — one row per url with snapshot
    * count, fetch-time range, and the changed/unchanged revisit signal.
    * Content digests are computed BEFORE the per-url shuffle (the page
    * bodies never move). Under graft.Verify the narrow (url, ts, digest)
    * frame is materialized and the DuckDB oracle replays the min_by/max_by
    * consolidation as a hard check.
    */
  def revisit(spark: SparkSession, dir: String): DataFrame =
    Revisit.latest(materializeForOracle(
      Revisit.snapshotDigests(pagesBoth(spark), "html"), "kg19_snapshots"))

  /** kg20: temporal SCD-2 triple history for the population fact (P1082) —
    * per-crawl observations collapse into validity intervals; a re-crawl
    * that re-asserts the same value extends the open interval, only value
    * CHANGES version. Window-only plan: one shuffle of (qid, value, ts).
    */
  def tripleScd(spark: SparkSession, dir: String): DataFrame =
    Scd.intervals(
      materializeForOracle(scdObservations(spark, pagesBoth(spark)), "kg20_obs"),
      Seq("qid"), "value", "ts")

  /** (qid, value, ts) P1082 observations of a pages frame — the kg20 input. */
  def scdObservations(spark: SparkSession, pages: DataFrame): DataFrame =
    claimObservations(spark, pages)
      .filter(col("pid") === "P1082")
      .select("qid", "value", "ts")

  /** kg22: point-in-time (AS-OF) snapshot read over the kg20 SCD-2 triple
    * history — "the graph as it was at T": each probe timestamp returns
    * every qid's value whose validity interval covers it
    * (`valid_from ≤ T < valid_to`, open intervals current). The probe
    * BETWEEN the two crawls must see crawl-1 values; the probe AFTER
    * crawl 2 sees the current ones — together the write (kg20) and read
    * halves of temporal-KG maintenance.
    *
    * Scale shape: the probe set is a bounded broadcast (a time-travel
    * read never has many probe instants) against the history scan — one
    * narrow broadcast join, no shuffle of the history.
    */
  def tripleAsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = tripleScd(spark, dir)
    val probes = Seq(
      ("between_crawls", new java.sql.Timestamp(1735689600000L + 43200000L)),
      ("after_crawl2", new java.sql.Timestamp(1735689600000L + 2L * 86400000L)))
      .toDF("probe", "pts")
    hist.join(broadcast(probes),
        col("valid_from") <= col("pts") &&
          (col("valid_to").isNull || col("pts") < col("valid_to")))
      .select(col("probe"), col("qid"), col("value"),
        unix_millis(col("valid_from")).as("valid_from_ms"))
  }

  /** kg21: INCREMENTAL canonicalization — crawl 2's sameAs edges folded
    * into crawl 1's component assignment via the contracted-graph fold
    * ([[graft.canon.ConnectedComponents.runIncremental]]): the small CC
    * runs over ≤ 2·|delta| labels, the world-sized base assignment never
    * reshuffles. Re-asserted crawl-1 edges contract to self-loops and cost
    * nothing. The DuckDB oracle recomputes components FROM SCRATCH over
    * base ∪ delta edges (recursive-CTE closure, the kg5 shape) — an
    * independent from-first-principles check that the incremental fold
    * equals the full recompute.
    */
  def canonDelta(spark: SparkSession, dir: String): DataFrame = {
    val baseEdges = AliasEdges.sameAsEdges(payloads(spark))
    val deltaEdges = AliasEdges.sameAsEdges(
      TextifyStage.payloads(spark, PagesGen.pagesDelta(spark, nPages)))
    val nodes = materializeForOracle(labelsEn(spark).select("id"), "kg21_nodes")
    val baseAssign = graft.canon.ConnectedComponents.run(spark,
      materializeForOracle(baseEdges, "kg21_base_edges"), nodes)
    graft.canon.ConnectedComponents.runIncremental(spark, baseAssign,
      materializeForOracle(deltaEdges, "kg21_delta_edges"))
      .filter(col("id") =!= col("component"))
  }

  /** kg25: bounded-hop WEIGHTED shortest paths from the top-degree hubs
    * over the entity co-occurrence graph — the min-plus complement of the
    * kg16 hop-count BFS: edge cost falls with co-occurrence strength
    * (`1000000 div (w+1)`, exact integer), so a 2-hop route through
    * strongly-associated entities can beat a weak direct edge — the
    * "semantic proximity" read a KG serves (related-entity panels,
    * navigation ranking). Three Bellman-Ford rounds in exact BIGINT
    * arithmetic ([[GraphOps.ssspBounded]]); the DuckDB oracle unrolls the
    * same three relaxations from the materialized cost-edge frame and
    * hash-matches bit for bit.
    */
  def sssp(spark: SparkSession, dir: String): DataFrame = {
    val (edges, seeds) = hubGraph(spark, dir, "kg25_edges",
      cost = Some(expr("1000000 div (w + 1)")))
    GraphOps.ssspBounded(edges, seeds, rounds = 3)
  }

  /** kg26: community detection over the entity co-occurrence graph —
    * deterministic synchronous weighted label propagation
    * ([[GraphOps.labelPropagation]]), four rounds, edge weight = number of
    * shared pages. The "which entities form topical clusters" read a KG
    * serves (topic pages, related-entity grouping) and the third member of
    * the iterative-graph family after kg15 PageRank and kg16/kg25
    * traversals. The DuckDB oracle unrolls the same four vote rounds as
    * chained CTEs from the materialized edge frame — exact integer vote
    * sums and a total (votes desc, label asc) order make the replay
    * hash-exact.
    */
  def communities(spark: SparkSession, dir: String): DataFrame = {
    val (edges, _) = hubGraph(spark, dir, "kg26_edges", cost = Some(col("w")))
    GraphOps.labelPropagation(edges.withColumnRenamed("cost", "w"), rounds = 4)
  }

  /** kg27: bounded k-core peeling over the entity co-occurrence graph —
    * "which entities sit in the densely-interlinked heart of the corpus"
    * (the density complement of kg14's triangle census; hubs by PageRank,
    * cores by peeling). Three synchronous peel rounds at k = 3
    * ([[GraphOps.kcoreBounded]]); the DuckDB oracle unrolls the same
    * rounds as chained CTEs over the materialized edge frame — survivor
    * sets and integer degrees are exact, so the replay hash-matches.
    */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val (edges, _) = hubGraph(spark, dir, "kg27_edges", cost = None)
    GraphOps.kcoreBounded(edges, k = 3, rounds = 3)
  }

  /** (qid, pid, value, ts) observations of EVERY claim on a pages frame —
    * the kg24 input: the all-properties generalization of
    * [[scdObservations]] (which tracks the single P1082 fact for SCD-2).
    */
  def claimObservations(spark: SparkSession, pages: DataFrame): DataFrame = {
    import spark.implicits._
    pages
      .select(col("warc_ts"), col("html"))
      .as[(java.sql.Timestamp, Array[Byte])]
      .flatMap { case (ts, html) =>
        PagesGen.extractPayload(html).toSeq
          .flatMap(WikidataJson.claimRowsOf(_))
          .map(r => (r.qid, r.pid, r.valueScalar, ts))
      }.toDF("qid", "pid", "value", "ts")
  }

  /** kg24: snapshot-to-snapshot KG DIFF — which (subj, pred, obj) facts the
    * second crawl added and which it removed, the change feed a downstream
    * KG maintainer consumes (the read-side complement of kg20's SCD-2
    * write: kg20 versions ONE tracked fact over time, kg24 diffs the WHOLE
    * fact set between two corpus states). Base state = every fact asserted
    * by crawl 1; current state = every fact asserted by each entity's
    * LATEST fetch. On the fixture: the i%6==0 population revisions emit an
    * added+removed pair each, the i%24==1 new sameAs edges emit pure adds,
    * and byte-identical re-serves cancel out entirely.
    *
    * 100 TB shape: pages parse to scalar claim rows in place — bodies never
    * shuffle. Latest-fetch selection is one qid-keyed window over those
    * scalars, and the diff itself is ONE groupBy computing both presence
    * flags as conditional aggregates — two total shuffles, where the
    * distinct-base EXCEPT distinct-current form pays four (two distincts +
    * two anti-joins). Under graft.Verify the observation frame is
    * materialized and the DuckDB oracle replays window + diff from first
    * principles.
    */
  def tripleDiff(spark: SparkSession, dir: String): DataFrame =
    tripleDiffFrame(materializeForOracle(
      claimObservations(spark, pagesBoth(spark)), "kg24_obs"))

  /** [[tripleDiff]] over any (qid, pid, value, ts) observation frame —
    * base state = observations before [[PagesGen.crawl2Base]], current
    * state = each qid's latest fetch. The seam the plan pin and the unit
    * spec drive directly.
    */
  def tripleDiffFrame(obs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    obs
      .withColumn("max_ts", max(col("ts")).over(Window.partitionBy("qid")))
      .groupBy("qid", "pid", "value")
      .agg(
        max(col("ts") < lit(new java.sql.Timestamp(PagesGen.crawl2Base)))
          .as("in_base"),
        max(col("ts") === col("max_ts")).as("in_current"))
      .filter(col("in_base") =!= col("in_current"))
      .select(col("qid"), col("pid"), col("value"),
        when(col("in_current"), "added").otherwise("removed").as("change"))
  }

  /** kg23: exact-duplicate CONTENT groups across the two crawls — the d3
    * digest-groupBy shape over a corpus that provably contains duplicates:
    * every unchanged re-crawled page ([[PagesGen.pagesDelta]] re-serves
    * byte-identical HTML for the i%3==0, i%6!=0 entities by construction)
    * yields a 2-copy digest group, so this gate can never be vacuously
    * green the way d3's is on the driver fixture (its corpus has no exact
    * dupes — see [[TextAnalysis.d3DupGroups]]). Same 100 TB shape as d3:
    * only 16-byte digests + urls cross the shuffle, never page bodies.
    */
  def exactDupGroups(spark: SparkSession, dir: String): DataFrame =
    materializeForOracle(
      Revisit.snapshotDigests(pagesBoth(spark), "html"), "kg23_snapshots")
      .groupBy("digest")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("url")).as("n_urls"),
        min(col("url")).as("rep_url"))
      .filter(col("n_copies") > 1)

  /** kg28: change-rate recrawl priority — the scheduling signal a crawler
    * derives from its own revisit history (the Cho/Garcia-Molina change-
    * frequency estimate, simplified to observed change fraction): per url,
    * the fraction of consecutive snapshot pairs whose content digest
    * changed, bucketed into a priority class the frontier scheduler (w6)
    * consumes. kg19 answers "what is the latest state"; kg28 answers "how
    * often should I come back".
    *
    * 100 TB shape: digests are computed BEFORE the per-url shuffle (bodies
    * never move — the kg19 rule); the consecutive-pair comparison is one
    * url-keyed window over (ts, digest) scalars, then one map-side-combined
    * groupBy on the same key — a single shuffle end to end.
    */
  def recrawlPriority(spark: SparkSession, dir: String): DataFrame =
    recrawlPriorityFrame(materializeForOracle(
      Revisit.snapshotDigests(pagesBoth(spark), "html"), "kg28_snapshots"))

  /** [[recrawlPriority]] over any (url, warc_ts, digest) snapshot frame —
    * the seam the unit spec drives with planted 3-snapshot histories.
    * Single-snapshot urls have no pair evidence: rate 0.0, class
    * "unknown".
    */
  def recrawlPriorityFrame(snapshots: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("url").orderBy("warc_ts")
    snapshots
      .withColumn("_prev", lag(col("digest"), 1).over(w))
      .groupBy("url")
      .agg(count(lit(1)).as("n_snapshots"),
        sum(when(col("_prev").isNotNull && col("digest") =!= col("_prev"), 1L)
          .otherwise(0L)).as("n_changes"))
      .withColumn("change_rate",
        when(col("n_snapshots") > 1,
          col("n_changes").cast("double") / (col("n_snapshots") - 1).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("priority",
        when(col("n_snapshots") === 1, "unknown")
          .when(col("change_rate") >= 0.5, "high")
          .when(col("n_changes") > 0, "medium")
          .otherwise("low"))
  }

  /** kg29: per-predicate property profile — the schema-induction table a
    * KG builder maintains to pick constraints and storage layouts: claim
    * volume, distinct subjects, per-subject cardinality (max + mean), and
    * the entity-valued share. `max_per_subject == 1` is exactly "this
    * predicate is functional as used", the data-driven form of the
    * single-value constraint kg13 enforces; a mixed entity/literal kind
    * share flags extraction bugs before they poison the triple store.
    *
    * 100 TB shape: claims parse to (qid, pid, kind) scalars in place, then
    * two map-side-combined groupBys — (qid, pid) then pid, the first on
    * the triple table's own bucket key; only per-group counters cross
    * either shuffle. The mean is n_claims/n_subjects in IEEE double, which
    * the DuckDB oracle replays exactly.
    */
  def propertyProfile(spark: SparkSession, dir: String): DataFrame = {
    propertyProfileStats(materializeForOracle(
      claimRows(spark).select("qid", "pid", "isQidValue"), "kg29_claim_kinds"))
  }

  /** The aggregate half of kg29 over (qid, pid, isQidValue) claim rows —
    * the seam the unit spec drives with a planted mixed-kind predicate.
    */
  def propertyProfileStats(kinds: DataFrame): DataFrame =
    kinds
      .groupBy("qid", "pid")
      .agg(count(lit(1)).as("_n"),
        sum(when(col("isQidValue"), 1L).otherwise(0L)).as("_nq"))
      .groupBy("pid")
      .agg(sum(col("_n")).as("n_claims"),
        count(lit(1)).as("n_subjects"),
        max(col("_n")).as("max_per_subject"),
        sum(col("_nq")).as("n_entity_valued"))
      .withColumn("mean_per_subject",
        col("n_claims").cast("double") / col("n_subjects").cast("double"))
      .withColumn("functional", col("max_per_subject") === 1)
}
