package graft

import graft.canon.ConnectedComponents
import graft.link.{EmbeddingCache, Embedder, Linker}
import graft.operators.{AsOfJoin, Dsir, GraphOps, KeywordSearch, Mixture, Packing, Similarity, TextAnalysis}
import graft.pipeline.{KgPipeline, PagesGen}
import graft.tables.MergeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Persist-lifecycle audit of the rule [[graft.tables.Checkpoints]] states:
  * every SparkEntry query must release whatever it persisted by the time
  * its result is consumed (round 3 shipped two leaks of this class — a
  * long-lived driver serving these queries accumulates one cached corpus
  * frame per call). Run every query, then assert the SQL cache registry is
  * empty. The failure path gets the same check: each operator that holds
  * a cache, fed an input that throws mid-call, must still leave the
  * registry empty — and so must a KgPipeline stage or an EmbeddingCache
  * call whose table write throws after its inputs were persisted.
  */
class CacheHygieneSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("every query entry leaves the cache registry empty after consumption") {
    spark.catalog.clearCache() // other suites share the session
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      withClue(s"query $name: ") {
        fn(spark, dir).count() // consume: any lazy internal persists fire here
        assert(Bridge.cacheIsEmpty(spark),
          s"$name left cached plans behind (persist without a paired unpersist)")
      }
    }
  }

  private def failingCalls: Seq[(String, () => DataFrame)] = {
    val spark2 = spark
    import spark2.implicits._
    // a raise_error edge column fails the first action inside the call
    // (over a range, not a local Seq: the optimizer would evaluate a
    // projection of local rows while planning, before anything is cached)
    val boom = raise_error(lit("boom")).cast("string")
    val bad = spark.range(2).select($"id".cast("string").as("src"), boom.as("dst"),
      lit(1L).as("w"))
    val seeds = Seq("a").toDF("id")
    val hub = (0 until 50).map(i => ("hub", s"n$i")).toDF("src", "dst")
    val chain = (0 until 8).map(i => (s"c$i", s"c${i + 1}")).toDF("src", "dst")
    // the same raise_error pattern as a document, embedding or as-of frame
    def boomAs(t: String) = raise_error(lit("boom")).cast(t)
    val docs = spark.range(2).select($"id".as("doc_id"), lit("en").as("lang"), boom.as("text"))
    val vecs = spark.range(2).select($"id".as("vec_id"),
      boomAs("array<float>").as("embedding"), boomAs("array<bigint>").as("q"))
    val ments = spark.range(2).select($"id".cast("string").as("url"), lit("s").as("surface"),
      lit(0).as("begin"), lit(1).as("end"), boomAs("array<float>").as("ctx_vec"))
    val ents = Seq(("Q1", Seq.fill(Embedder.dim)(1f))).toDF("id", "vec")
    val asOfSide = spark.range(2).select($"id".as("k"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("t"), boom.as("v"))
    Seq(
      "pageRankInt" -> (() => GraphOps.pageRankInt(bad)),
      "bfsDistances" -> (() => GraphOps.bfsDistances(bad, seeds, maxHops = 2)),
      "ssspBounded" -> (() =>
        GraphOps.ssspBounded(bad.withColumnRenamed("w", "cost"), seeds, rounds = 2)),
      "kcoreBounded" -> (() => GraphOps.kcoreBounded(bad, k = 1, rounds = 2)),
      "labelPropagation" -> (() => GraphOps.labelPropagation(bad, rounds = 2)),
      "randomWalks (maxDegree guard)" -> (() =>
        GraphOps.randomWalks(hub, walkLen = 1, maxDegree = 10)),
      "ConnectedComponents.run" -> (() => ConnectedComponents.run(spark, bad, seeds)),
      "triangles" -> (() =>
        GraphOps.triangles(bad.select($"src".as("a"), $"dst".as("b")))),
      "ConnectedComponents.runIncremental (round budget)" -> (() =>
        ConnectedComponents.runIncremental(spark,
          ConnectedComponents.run(spark, chain.limit(0), chain.select($"src".as("id"))),
          chain, maxIterations = 1)),
      "d16Frame" -> (() => TextAnalysis.d16Frame(docs, keepBelow = 8.0)),
      "d18Frame" -> (() => TextAnalysis.d18Frame(docs, flagAt = 0.5)),
      "d21Frame" -> (() => TextAnalysis.d21Frame(docs, k = 3)),
      "d22Frame" -> (() => TextAnalysis.d22Frame(docs, n = 3, mBits = 1024)),
      "d19Frame" -> (() =>
        Dsir.d19Frame(docs, $"doc_id" === 0L, buckets = 16, selectAbove = 0.0)),
      "liftScores" -> (() =>
        GraphOps.liftScores(bad.select($"src".as("url"), $"dst".as("qid")), minShared = 1)),
      "trainedCentroids" -> (() => Similarity.trainedCentroids(vecs, nCells = 2, iters = 1)),
      "pqCodebookQuantized" -> (() =>
        Similarity.pqCodebookQuantized(vecs, m = 2, dsub = 2, ksub = 2, iters = 1)),
      "asOfBackward (timeSplits > 1)" -> (() =>
        AsOfJoin.asOfBackward(asOfSide, asOfSide.select($"k".as("rk"), $"t".as("rt"), $"v".as("rv")),
          $"k", $"rk", $"t", $"rt", timeSplits = 2)),
      "Packing.pack" -> (() => Packing.pack(spark, docs, capacity = 4L)),
      "Mixture.tokenBudget" -> (() =>
        Mixture.tokenBudget(spark, docs, Map("en" -> 10L), budgetOther = 10L)),
      "KeywordSearch.search" -> (() => KeywordSearch.search(spark, docs, Seq((1L, "x")), k = 1)),
      "KeywordSearch.index" -> (() => KeywordSearch.index(spark, docs).postings),
      "Linker.linkLshScored" -> (() =>
        Linker.linkLshScored(ments, ents, k = 1, bits = 2, tables = 2, dimLen = Embedder.dim)))
  }

  failingCalls.foreach { case (name, call) =>
    test(s"$name releases its caches when it throws") {
      spark.catalog.clearCache()
      intercept[Exception](call())
      assert(Bridge.cacheIsEmpty(spark), s"$name left cached plans behind on its failure path")
    }
  }

  test("a KgPipeline stage whose write throws releases its persisted output") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "kgtest-hygiene-")
    val p = new KgPipeline(spark, root.toString, nPages = 20)
    val spark2 = spark
    import spark2.implicits._
    p.textsTbl.merge(Seq((PagesGen.urlOf(PagesGen.qid(0)), PagesGen.qid(0), "en", "t"))
      .toDF("url", "id", "lang", "text"))
    // strip the layout stamp: the textify merge's validateLayout throws
    // after the stage has built and persisted its output
    val manifest = root.resolve("texts").resolve("_manifests")
      .resolve(s"v${p.textsTbl.currentSnapshot.get}.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readString(manifest))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("bucketCols")
    java.nio.file.Files.writeString(manifest, mapper.writeValueAsString(node))

    spark.catalog.clearCache()
    val e = intercept[IllegalStateException](p.ingest(PagesGen.pages(spark, 20), delta = true))
    assert(e.getMessage.contains("records no bucketCols"))
    assert(!p.lineage.isDone("delta_textify", p.pagesTbl.currentSnapshot.get))
    assert(Bridge.cacheIsEmpty(spark), "the textify stage left its output cached on its failure path")
  }

  test("an EmbeddingCache call whose table merge throws releases its caches") {
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "cache-hygiene-")
    val table = new MergeTable(spark, root.resolve("t").toString, Seq("text_key"))
    val cache = new EmbeddingCache(spark, table)
    cache.embedWithCache(Seq(("a", "hello world")).toDF("id", "text"))
    // strip the layout stamp: the merge of the fresh vectors then throws
    // after the call has persisted its join and its fresh frame
    val manifest = root.resolve("t").resolve("_manifests")
      .resolve(s"v${table.currentSnapshot.get}.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readString(manifest))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("bucketCols")
    java.nio.file.Files.writeString(manifest, mapper.writeValueAsString(node))

    spark.catalog.clearCache()
    val e = intercept[IllegalStateException](
      cache.embedWithCache(Seq(("b", "something else")).toDF("id", "text")))
    assert(e.getMessage.contains("records no bucketCols"))
    assert(Bridge.cacheIsEmpty(spark), "embedWithCache left its caches behind on its failure path")
  }
}
