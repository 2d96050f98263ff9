package graft.pipeline

import graft.SparkTestBase
import graft.model.WikidataJson
import graft.textify.{LangVariant, Textifier}
import graft.triples.Triples
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end slice (SURVEY.md §7.3): pages → extract → mention → link →
  * triples → canon → materialize, plus the exactly-once resume contract.
  */
class KgPipelineSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val n = 240L
  private lazy val root = {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "kgtest-").toString
    val p = new KgPipeline(spark, dir, nPages = n)
    p.run()
    dir
  }
  private lazy val pipe = new KgPipeline(spark, root, nPages = n)

  private def gatedOut(i: Long): Boolean = i % 10 == 7 // PagesGen: no sitelink

  /** A fresh root holding a finished `run()` over `nPages` pages. */
  private def builtRoot(tag: String, nPages: Long): String = {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), s"kgtest-$tag-").toString
    new KgPipeline(spark, dir, nPages = nPages).run()
    dir
  }

  /** A table's current rows, columns sorted by name, rows sorted. */
  private def dump(t: graft.tables.MergeTable): Seq[String] = {
    val df = t.read()
    // binary columns (pages.html) stringify as array identity — hash them
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (f.dataType == org.apache.spark.sql.types.BinaryType) md5(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  /** The chain's nine stages, in order (delta ingests prefix them `delta_`). */
  private val chainStages = Seq("harvest", "harvest_ids", "textify", "mentions", "link",
    "docs", "triples", "canon", "materialize")

  private def html(payload: String): Array[Byte] =
    (s"""<html><body><script id="wd-entity" type="application/json">$payload</script></body></html>""")
      .getBytes("UTF-8")

  test("extracted text is byte-identical per url to the pure textifier (per-lang data)") {
    root // force run
    val texts = pipe.textsTbl.read().as[(String, String, String, String)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    // J4 gate: only in_wikipedia entities are textified — sitelink-less items
    // and property pages (no sitelinks) are excluded
    assert(texts.size == (0L until n).count(!gatedOut(_)))

    // recompute each page purely with a complete per-lang label map
    val labels = pipe.labelsTbl.read().select("id", "lang", "label")
      .as[(String, String, String)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (0L until n).foreach { i =>
      val url = PagesGen.urlOf(PagesGen.qid(i))
      if (gatedOut(i)) assert(!texts.contains(url), s"gated page $url must not be textified")
      else {
        val payload = PagesGen.entityJson(i, n, mapper)
        val item = WikidataJson.parseLine(payload).get
        val lang = PagesGen.langs((i % PagesGen.langs.size).toInt)
        val dl = LangVariant.dataLang(lang)
        val entity = WikidataJson.normalize(item, dl)
        val expected = new Textifier(LangVariant(lang),
          id => labels.get((id, dl))).entityToText(entity)
        val (id, gotLang, got) = texts(url)
        assert(id == PagesGen.qid(i) && gotLang == lang)
        assert(got == expected, s"url $url")
      }
    }
  }

  test("J4 gate: id_flags drives textify/docs; gated ids flagged not-in-wikipedia") {
    root
    val flags = pipe.idFlagsTbl.read()
      .select("id", "in_wikipedia").as[(String, Boolean)].collect().toMap
    (0L until n).foreach { i =>
      assert(flags(PagesGen.qid(i)) == !gatedOut(i), s"flag for ${PagesGen.qid(i)}")
    }
    val docQids = pipe.docsTbl.read().select("qid").distinct().as[String].collect().toSet
    (0L until n).filter(gatedOut).foreach { i =>
      assert(!docQids.contains(PagesGen.qid(i)), s"gated ${PagesGen.qid(i)} must have no docs")
    }
    (0L until n).filterNot(gatedOut).foreach { i =>
      assert(docQids.contains(PagesGen.qid(i)), s"${PagesGen.qid(i)} must have docs")
    }
  }

  test("pipeline triples == pure per-item extraction") {
    root
    val got = pipe.triplesTbl.read().as[graft.model.Triple].collect().sortBy(_.uuid)
    val labels = pipe.labelsTbl.read().filter(col("lang") === "en").select("id", "label")
      .as[(String, String)].collect().toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val expected = ((0L until n).map(i => PagesGen.entityJson(i, n, mapper)) ++
      PagesGen.properties.map { case (p, l) => PagesGen.propertyJson(p, l, mapper) })
      .flatMap { payload =>
        Triples.fromItem(WikidataJson.parseLine(payload).get, labels.get)
      }.sortBy(_.uuid)
    assert(got.length == expected.length)
    assert(got.toSeq == expected)
  }

  test("docs table: chunks under budget, deterministic ids, cached vectors match encode") {
    root
    import org.apache.spark.sql.functions.col
    val docs = pipe.docsTbl.read()
    // at least one chunk per non-gated item page
    assert(docs.count() >= (0L until n).count(!gatedOut(_)))
    val sample = docs.filter(col("qid") === PagesGen.qid(3))
      .orderBy("chunk")
      .select("doc_id", "lang", "chunk", "text")
      .as[(String, String, Int, String)].collect()
    assert(sample.nonEmpty)
    sample.zipWithIndex.foreach { case ((id, lang, chunk, text), i) =>
      assert(id == s"${PagesGen.qid(3)}_${lang}_${chunk}" && chunk == i + 1)
      assert(new graft.textify.SimpleTokenizer(8).tokenize(text).length <= 120)
    }
    val withVec = docs.filter(col("qid") === PagesGen.qid(3)).filter(col("chunk") === 1)
      .select("text", "vec").as[(String, Seq[Float])].collect().head
    assert(withVec._2 == graft.link.Embedder.encode(withVec._1).toSeq)
  }

  test("canonicalization groups sameAs twins into one component") {
    root
    val canon = pipe.canonTbl.read().as[(String, String)].collect().toMap
    (0L until n).foreach { i =>
      if (i % 12 == 1) // twin of i-1
        assert(canon(PagesGen.qid(i)) == canon(PagesGen.qid(i - 1)),
          s"twins ${PagesGen.qid(i - 1)}/${PagesGen.qid(i)}")
      else if (i % 12 != 0 || !canon.contains(PagesGen.qid(i + 1)))
        assert(canon(PagesGen.qid(i)) == PagesGen.qid(i), s"singleton ${PagesGen.qid(i)}")
    }
  }

  test("links: rank-1 candidate for unambiguous label mentions is the labeled entity") {
    root
    val links = pipe.linksTbl.read().filter(col("rank") === 1)
      .select("url", "surface", "qid").as[(String, String, String)].collect()
    assert(links.nonEmpty)
    // unambiguous surfaces = exact entity labels not shared as twin aliases
    val byLabel = (0L until n).map(i => PagesGen.labelOfIndex(i) -> PagesGen.qid(i)).toMap
    val twinAliasLabels = (0L until n).filter(_ % 12 == 1).map(i => PagesGen.labelOfIndex(i - 1)).toSet
    val checked = links.filter(l => byLabel.contains(l._2) && !twinAliasLabels.contains(l._2))
    assert(checked.nonEmpty)
    checked.foreach { case (url, surface, qid) =>
      assert(qid == byLabel(surface), s"mention '$surface' on $url linked to $qid")
    }
  }

  test("re-running the pipeline is a no-op (all stages resume from markers)") {
    root
    val snapsBefore = Seq(pipe.pagesTbl, pipe.labelsTbl, pipe.textsTbl, pipe.mentionsTbl,
      pipe.linksTbl, pipe.triplesTbl, pipe.canonTbl, pipe.nodesTbl, pipe.edgesTbl)
      .map(_.currentSnapshot)
    val rerun = new KgPipeline(spark, root, nPages = n)
    rerun.run()
    val snapsAfter = Seq(rerun.pagesTbl, rerun.labelsTbl, rerun.textsTbl, rerun.mentionsTbl,
      rerun.linksTbl, rerun.triplesTbl, rerun.canonTbl, rerun.nodesTbl, rerun.edgesTbl)
      .map(_.currentSnapshot)
    assert(snapsBefore == snapsAfter)
  }

  test("incremental ingest: new + changed pages upsert through every stage") {
    root
    import org.apache.spark.sql.functions.{col, lit}
    val before = pipe.textsTbl.read().count()
    val beforeTriples = pipe.triplesTbl.read().count()

    // one changed page (same url, edited description in the payload) and one
    // brand-new page
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val changedPayload = PagesGen.entityJson(3, n, mapper)
      .replace("synthetic entity number 3", "EDITED entity number 3")
    def html(payload: String, title: String) =
      (s"""<html><head><title>$title</title></head><body>""" +
        s"""<script id="wd-entity" type="application/json">$payload</script></body></html>""")
        .getBytes("UTF-8")
    val newQid = "Q999999"
    val newPayload = PagesGen.entityJson(0, n, mapper)
      .replace(PagesGen.qid(0), newQid)
      .replace(PagesGen.labelOfIndex(0), "Brand New Entity")
    val batch = Seq(
      (PagesGen.urlOf(PagesGen.qid(3)), new java.sql.Timestamp(2000000000000L),
        html(changedPayload, "edited"), "", "en"),
      (PagesGen.urlOf(newQid), new java.sql.Timestamp(2000000000001L),
        html(newPayload, "new"), "", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")

    pipe.ingest(batch)

    val texts = pipe.textsTbl.read()
    assert(texts.count() == before + 1) // upsert + one new url
    val edited = texts.filter(col("url") === PagesGen.urlOf(PagesGen.qid(3)))
      .select("text").as[String].collect().head
    assert(edited.contains("EDITED entity number 3"))
    val fresh = texts.filter(col("url") === PagesGen.urlOf(newQid)).count()
    assert(fresh == 1)
    assert(pipe.triplesTbl.read().filter(col("qid") === newQid).count() > 0)
    assert(pipe.triplesTbl.read().count() > beforeTriples)
  }

  test("alias-identity edges over the real label table: twins only, hubs gated") {
    root // force run
    // PagesGen gives every i%12==1 twin its predecessor's LABEL as an alias
    // (a 2-entity surface → edge) and pools `AliasN` surfaces across 3-4
    // entities each (hubs → gated by maxIds=2). The edge set must be exactly
    // the twin pairs — the same pairs sameAs already connects, so enabling
    // aliasEdgeMaxIds=Some(2) on this corpus cannot change canon (the
    // invariant that makes the option safe to turn on).
    val edges = graft.canon.AliasEdges.edges(pipe.labelsTbl.read())
      .as[(String, String)].collect().toSet
    val want = (1L until n).filter(_ % 12 == 1)
      .map(i => (PagesGen.qid(i - 1), PagesGen.qid(i))).toSet
    assert(edges == want)
    assert(edges.nonEmpty)
    // every alias edge is inside an existing sameAs component ⇒ canon stable
    val canon = pipe.canonTbl.read().as[(String, String)].collect().toMap
    edges.foreach { case (a, b) =>
      assert(canon.getOrElse(a, a) == canon.getOrElse(b, b), s"$a/$b")
    }
  }

  test("aliasEdgeMaxIds=Some(2) pipeline run == CC over sameAs ∪ alias edges") {
    // exercises the sameAs ∪ AliasEdges union wiring end-to-end. At n=60 the
    // Alias pool shrinks to 11, so some pooled surfaces have EXACTLY 2 ids —
    // the alias edges genuinely add merges beyond sameAs (unlike n=240 where
    // every pool surface is a 3-4-id hub and gets gated).
    val small = 60L
    def runWith(alias: Option[Int]): KgPipeline = {
      val dir = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "kgtest-alias-").toString
      val p = new KgPipeline(spark, dir, nPages = small, aliasEdgeMaxIds = alias)
      p.run()
      p
    }
    val dflt = runWith(None)
    val withAlias = runWith(Some(2)).canonTbl.read()
      .as[(String, String)].collect().sorted.toSeq

    // independent composition from the default run's materialized tables
    val edges = dflt.sameAsTbl.read().unionByName(
      graft.canon.AliasEdges.edges(dflt.labelsTbl.read(), maxIds = 2))
    val nodes = dflt.labelsTbl.read()
      .filter(org.apache.spark.sql.functions.col("lang") === "en").select("id")
    val expected = graft.canon.ConnectedComponents.run(spark, edges, nodes)
      .as[(String, String)].collect().sorted.toSeq
    assert(withAlias == expected)
    // and the alias edges actually changed something at this corpus size
    val defaultCanon = dflt.canonTbl.read().as[(String, String)].collect().sorted.toSeq
    assert(withAlias != defaultCanon)
  }

  test("pipeline under a tiny mention-trie budget (forced sharding) == default run") {
    val small = 60L
    def runWith(budget: Long): Seq[String] = {
      val dir = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "kgtest-shard-").toString
      val p = new KgPipeline(spark, dir, nPages = small, mentionBudgetChars = budget)
      p.run()
      val df = p.mentionsTbl.read()
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    val default = runWith(64L * 1000 * 1000) // single broadcast trie
    val sharded = runWith(200)               // forces many shard passes
    assert(default.nonEmpty)
    assert(sharded == default)
  }

  test("one gather-join per full run: textify and docs share the resolved frame") {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "kgtest-share-").toString
    val before = TextifyStage.gatherJoinCalls.get()
    new KgPipeline(spark, dir, nPages = 60L).run()
    val calls = TextifyStage.gatherJoinCalls.get() - before
    // the (persisted) resolved frame is constructed once and feeds both the
    // textify and docs stages — the refs explode + label shuffle + per-url
    // regroup (the pipeline's biggest shuffle) must not run per stage
    assert(calls == 1, s"expected 1 gather-join per run, saw $calls")
  }

  test("expireHistory after runs: current reads identical, churn reclaimed, pipeline keeps working") {
    val small = 60L
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "kgtest-expire-").toString
    val p = new KgPipeline(spark, dir, nPages = small)
    p.run()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val newPayload = PagesGen.entityJson(2, small, mapper)
      .replace(PagesGen.qid(2), "Q777888")
      .replace(PagesGen.labelOfIndex(2), "Expiry Batch Entity")
    p.ingest(Seq(
      (PagesGen.urlOf("Q777888"), new java.sql.Timestamp(2100000000000L),
        html(newPayload), "", "en")).toDF("url", "warc_ts", "html", "text", "lang"),
      delta = true)
    assert(p.tables.exists(t => t.exists && t.snapshots.size > 1),
      "the delta run must have created history to expire")

    val before = p.tables.filter(_.exists).map(dump)
    val (manifests, dirs) = p.expireHistory(keepLast = 1)
    assert(manifests > 0, "expiry must reclaim the pre-delta manifests")
    p.tables.filter(_.exists).foreach(t => assert(t.snapshots.size == 1, t.path))
    assert(p.tables.filter(_.exists).map(dump) == before,
      s"current reads must be identical (reclaimed $manifests manifests, $dirs dirs)")

    // the pipeline still merges normally after the sweep — and with
    // `retention` set, ingest runs the sweep itself (no manual call)
    val auto = new KgPipeline(spark, dir, nPages = small, retention = Some(1))
    val nextPayload = PagesGen.entityJson(3, small, mapper)
      .replace(PagesGen.qid(3), "Q777889")
      .replace(PagesGen.labelOfIndex(3), "Post Expiry Entity")
    auto.ingest(Seq(
      (PagesGen.urlOf("Q777889"), new java.sql.Timestamp(2100000000001L),
        html(nextPayload), "", "en")).toDF("url", "warc_ts", "html", "text", "lang"),
      delta = true)
    assert(auto.textsTbl.read().filter(col("id") === "Q777889").count() == 1)
    auto.tables.filter(_.exists).foreach(t =>
      assert(t.snapshots.size == 1, s"retention sweep must run at ingest end: ${t.path}"))
  }

  test("delta ingest == full-recompute ingest (same batch, same final tables)") {
    // two identical roots, same initial corpus; then the same batch ingested
    // delta-only vs full-recompute — every table must converge identically
    // (the batch's new label does not occur in old pages, so the frozen-
    // dictionary delta contract and the full recompute agree)
    val small = 60L
    val fullRoot = builtRoot("delta", small)
    val deltaRoot = builtRoot("delta", small)

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // index 2: no ambiguous alias, no twin sameAs — the batch introduces no
    // NEW surface occurring in old pages, so the delta contract (dictionary
    // additions apply to pages processed from now on) and the full recompute
    // agree; see the ingest doc for the intentional divergence otherwise
    val newQid = "Q777777"
    val newPayload = PagesGen.entityJson(2, small, mapper)
      .replace(PagesGen.qid(2), newQid)
      .replace(PagesGen.labelOfIndex(2), "Delta Batch Entity")
    def batch() = Seq(
      (PagesGen.urlOf(newQid), new java.sql.Timestamp(2100000000000L), html(newPayload), "", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")

    val full = new KgPipeline(spark, fullRoot, nPages = small)
    full.ingest(batch(), delta = false)
    val deltaP = new KgPipeline(spark, deltaRoot, nPages = small)
    deltaP.ingest(batch(), delta = true)

    assert(full.tables.size == 13)
    full.tables.zip(deltaP.tables).foreach { case (f, d) =>
      assert(dump(d) == dump(f), s"table ${d.path}")
    }
    // and the delta batch's content actually landed
    assert(deltaP.textsTbl.read().filter(col("id") === newQid).count() == 1)
    assert(deltaP.triplesTbl.read().filter(col("qid") === newQid).count() > 0)

    // changed-page delta: the edited page's own rows update in place; other
    // pages' rows are untouched (links referencing the changed entity refresh
    // lazily — the documented delta contract)
    val changedPayload = PagesGen.entityJson(5, small, mapper)
      .replace("synthetic entity number 5", "DELTA-EDITED entity number 5")
    val before = dump(deltaP.textsTbl).size
    deltaP.ingest(Seq(
      (PagesGen.urlOf(PagesGen.qid(5)), new java.sql.Timestamp(2100000000002L),
        html(changedPayload), "", "en")).toDF("url", "warc_ts", "html", "text", "lang"),
      delta = true)
    val texts = deltaP.textsTbl.read()
    assert(texts.count() == before) // upsert, not append
    assert(texts.filter(col("url") === PagesGen.urlOf(PagesGen.qid(5)))
      .select("text").as[String].collect().head.contains("DELTA-EDITED"))
    assert(deltaP.triplesTbl.read()
      .filter(col("qid") === PagesGen.qid(5) && col("item_label").contains("DELTA-EDITED"))
      .count() > 0)

    // shrink scenario: page 9 re-ingested with ALL claims removed — its old
    // triples must disappear (scope-replace, not merge-around), its mentions
    // must re-derive from the new shorter text, and its docs shrink
    val shrunkPayload = {
      val node = graft.model.WikidataJson.parseLine(PagesGen.entityJson(9, small, mapper)).get
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.set("claims", mapper.createObjectNode())
      mapper.writeValueAsString(node)
    }
    assert(deltaP.triplesTbl.read().filter(col("qid") === PagesGen.qid(9)).count() > 0)
    deltaP.ingest(Seq(
      (PagesGen.urlOf(PagesGen.qid(9)), new java.sql.Timestamp(2100000000003L),
        html(shrunkPayload), "", "en")).toDF("url", "warc_ts", "html", "text", "lang"),
      delta = true)
    assert(deltaP.triplesTbl.read().filter(col("qid") === PagesGen.qid(9)).count() == 0,
      "stale triples must be deleted when the page's claims disappear")
    val newText = deltaP.textsTbl.read()
      .filter(col("url") === PagesGen.urlOf(PagesGen.qid(9)))
      .select("text").as[String].collect().head
    val staleMentions = deltaP.mentionsTbl.read()
      .filter(col("url") === PagesGen.urlOf(PagesGen.qid(9)) && col("end") > newText.length)
    assert(staleMentions.count() == 0, "mentions beyond the new text length must be deleted")
  }

  test("a killed delta ingest re-runs exactly: same tables as an uninterrupted delta ingest") {
    val small = 60L
    def batch() = PagesGen.pagesDelta(spark, small)

    // crash after the delta mentions stage commits
    val dir = builtRoot("dkill", small)
    val failing = new KgPipeline(spark, dir, nPages = small, failAfterStage = Some("delta_mentions"))
    intercept[RuntimeException] { failing.ingest(batch(), delta = true) }
    val killedSnap = failing.pagesTbl.currentSnapshot.get
    assert(failing.lineage.isDone("delta_mentions", killedSnap))
    assert(!failing.lineage.isDone("delta_link", killedSnap))

    // re-ingest the same batch to completion: the merge lands it under a
    // new pages snapshot, so every stage re-runs over the half-written tables
    val rerun = new KgPipeline(spark, dir, nPages = small)
    rerun.ingest(batch(), delta = true)

    // compare against an uninterrupted delta ingest in a fresh root
    val clean = new KgPipeline(spark, builtRoot("dclean", small), nPages = small)
    clean.ingest(batch(), delta = true)
    rerun.tables.zip(clean.tables).foreach { case (r, c) =>
      assert(dump(r) == dump(c), s"table ${r.path}")
    }

    // the delta ingest commits the full chain's stages, each prefixed
    val stages = clean.lineage.lineageRows().select("stage").distinct()
      .as[String].collect().toSet
    assert(stages.filter(_.startsWith("delta_")) == chainStages.map("delta_" + _).toSet)
    assert(stages.filterNot(_.startsWith("delta_")) == chainStages.toSet + "ingest")
  }

  test("a killed job resumes exactly: same final tables as an uninterrupted run") {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "kgtest-resume-").toString
    val small = 60L
    // crash after the mentions stage commits
    val failing = new KgPipeline(spark, dir, nPages = small, failAfterStage = Some("mentions"))
    intercept[RuntimeException] { failing.run() }
    assert(failing.mentionsTbl.exists && !failing.linksTbl.exists)

    // resume to completion
    val resumed = new KgPipeline(spark, dir, nPages = small)
    resumed.run()

    // compare against an uninterrupted run in a fresh root
    val cleanDir = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "kgtest-clean-").toString
    val clean = new KgPipeline(spark, cleanDir, nPages = small)
    clean.run()

    assert(dump(resumed.triplesTbl) == dump(clean.triplesTbl))
    assert(dump(resumed.textsTbl) == dump(clean.textsTbl))
    assert(dump(resumed.linksTbl) == dump(clean.linksTbl))
    assert(dump(resumed.edgesTbl) == dump(clean.edgesTbl))
    // lineage recorded per-partition rows for every stage
    val stages = resumed.lineage.lineageRows().select("stage").distinct()
      .as[String].collect().toSet
    assert(Set("ingest", "harvest", "textify", "mentions", "link", "triples",
      "canon", "materialize").subsetOf(stages))
  }
}
