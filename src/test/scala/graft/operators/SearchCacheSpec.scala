package graft.operators

import graft.SparkTestBase
import graft.link.EmbeddingCache
import graft.tables.MergeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SearchCacheSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("BM25 keyword search ranks the matching doc first") {
    val docs = Seq(
      (1L, "spark window aggregation over streams"),
      (2L, "the cat sat on the mat"),
      (3L, "window shopping in the rain"),
      (4L, "spark spark spark window window batch")).toDF("doc_id", "text")
    val r = KeywordSearch.search(spark, docs, Seq((1L, "spark window")), k = 3)
      .orderBy("rank").select("doc_id", "rank", "n_matched_terms")
      .as[(Long, Int, Long)].collect()
    assert(r.head._1 == 4L) // both terms, high tf
    assert(r.map(_._1).toSet.subsetOf(Set(1L, 3L, 4L))) // doc 2 matches nothing
    assert(r.forall(_._3 >= 1))
  }

  test("BM25: idf favors rare terms over common ones") {
    val docs = (1L to 20L).map(i => (i, s"common common common filler$i")).toDF("doc_id", "text")
      .unionByName(Seq((100L, "common rareword here")).toDF("doc_id", "text"))
    val r = KeywordSearch.search(spark, docs, Seq((1L, "rareword common")), k = 2)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(r.head == 100L)
  }

  test("BM25 persisted index: repeated query batches reuse it and match one-shot search") {
    val docs = Seq(
      (1L, "spark window aggregation over streams"),
      (2L, "the cat sat on the mat"),
      (3L, "window shopping in the rain"),
      (4L, "spark spark spark window window batch")).toDF("doc_id", "text")
    val idx = KeywordSearch.index(spark, docs)
    try {
      for (q <- Seq("spark window", "cat mat", "rain")) {
        val viaIndex = idx.search(spark, Seq((1L, q)), k = 3)
          .collect().map(_.toString).sorted.toSeq
        val oneShot = KeywordSearch.search(spark, docs, Seq((1L, q)), k = 3)
          .collect().map(_.toString).sorted.toSeq
        assert(viaIndex == oneShot, s"query '$q'")
      }
      // the index frames are cached: the scan shows up as a cache read
      val plan = idx.search(spark, Seq((1L, "spark")), k = 3).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"), plan.take(1500))
    } finally idx.unpersist()
  }

  test("embedding cache: second pass is all hits, results identical") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "cache-").toString
    val cache = new EmbeddingCache(spark, new MergeTable(spark, s"$dir/t", Seq("text_key")))
    val texts = Seq(("a", "hello world"), ("b", "something else"), ("c", "hello world"))
      .toDF("id", "text")
    val (r1, miss1) = cache.embedWithCache(texts)
    val v1 = r1.collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(miss1 == 2) // two distinct texts
    assert(v1.size == 3 && v1("a") == v1("c"))
    val (r2, miss2) = cache.embedWithCache(texts)
    assert(miss2 == 0)
    val v2 = r2.collect().map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(v2 == v1)
    // and the cached vectors equal the direct encode
    assert(v1("a") == graft.link.Embedder.encode("hello world").toSeq)
  }
}
