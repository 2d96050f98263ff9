package graft

import graft.canon.ConnectedComponents
import graft.operators.GraphOps
import graft.pipeline.{KgPipeline, PagesGen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Persist-lifecycle audit: every SparkEntry query must release whatever it
  * persisted by the time its result is consumed. Round 3 shipped two leaks
  * of this class (KgQueries.links / linksLsh kept a full-corpus texts cache
  * alive per call) and the round-2 advice found two more — a long-lived
  * driver serving these queries accumulates one cached corpus frame per
  * call until the block manager evicts under pressure. The rule each
  * operator follows: persist for the duration of the call, eagerly
  * materialize the (small) result (`localCheckpoint(true)`), unpersist
  * before returning. This spec is the 20-line closure of the class: run
  * every query, then assert the SQL cache registry is empty. The failure
  * path gets the same check: each iterative graph operator, fed an input
  * that throws mid-call, must still leave the registry empty — and so must
  * a KgPipeline stage whose table write throws after its output was
  * persisted.
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
          chain, maxIterations = 1)))
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
}
