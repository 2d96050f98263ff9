package graft.streaming

import graft.SparkTestBase
import graft.model.WikidataJson
import graft.pipeline.PagesGen
import graft.triples.Triples
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingExtractSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val setup: (String, org.apache.spark.broadcast.Broadcast[Map[String, String]]) = {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "stream-").toString
    val pagesDir = s"$dir/pages"
    PagesGen.pages(spark, 80, partitions = 4).write.parquet(pagesDir)
    val labels = graft.pipeline.TextifyStage
      .harvestLabels(spark, graft.pipeline.TextifyStage.payloads(spark, spark.read.parquet(pagesDir)))
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("id", "label").as[(String, String)].collect().toMap
    (pagesDir, spark.sparkContext.broadcast(labels))
  }

  /** Per-language label dim keyed (id, dataLang) — what text/mention streams
    * take (the batch gather-join's semantics).
    */
  private lazy val langLabels: org.apache.spark.broadcast.Broadcast[Map[(String, String), String]] = {
    val (pagesDir, _) = setup
    val m = graft.pipeline.TextifyStage
      .harvestLabels(spark, graft.pipeline.TextifyStage.payloads(spark, spark.read.parquet(pagesDir)))
      .select("id", "lang", "label").as[(String, String, String)].collect()
      .map { case (id, lang, label) => (id, lang) -> label }.toMap
    spark.sparkContext.broadcast(m)
  }

  test("streaming triple extraction == batch extraction") {
    val (pagesDir, labels) = setup
    val ckpt = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ckpt-").toString
    val streamed = StreamingExtract.drain(spark,
      StreamingExtract.triplesStream(spark, pagesDir, labels), "triples_stream", ckpt)
      .as[graft.model.Triple].collect().sortBy(_.uuid)

    val batch = graft.pipeline.TextifyStage
      .payloads(spark, spark.read.parquet(pagesDir))
      .collect()
      .flatMap(pp => WikidataJson.parseLine(pp.payload))
      .flatMap(item => Triples.fromItem(item, labels.value.get))
      .sortBy(_.uuid)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming text + mention detection == the batch PRODUCTION path (per-lang data)") {
    val (pagesDir, _) = setup
    val ckpt = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ckptm-").toString
    val ckptT = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ckptt-").toString
    val payloads = graft.pipeline.TextifyStage.payloads(spark, spark.read.parquet(pagesDir))
    val labelsDf = graft.pipeline.TextifyStage.harvestLabels(spark, payloads)

    // batch production texts: the gather-join renderer itself, ungated
    val batchTexts = graft.pipeline.TextifyStage.render(spark, payloads, labelsDf)
      .select("url", "id", "text")

    // streamed texts must equal them byte-for-byte — including de/ar pages,
    // whose entities normalize in their own data language
    val streamedTexts = StreamingExtract.drain(spark,
      StreamingExtract.textStream(spark, pagesDir, langLabels), "texts_stream", ckptT)
    assert(streamedTexts.collect().map(_.toString).sorted.toSeq ==
      batchTexts.collect().map(_.toString).sorted.toSeq)

    // and the mention stage over them matches the batch Linker
    val dict = labelsDf
      .filter(!org.apache.spark.sql.functions.col("is_property") &&
        org.apache.spark.sql.functions.col("lang") === "en")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.explode(org.apache.spark.sql.functions.array_union(
          org.apache.spark.sql.functions.array(org.apache.spark.sql.functions.col("label")),
          org.apache.spark.sql.functions.col("aliases"))).as("surface"))
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("surface")) > 0)
      .groupBy("surface")
      .agg(org.apache.spark.sql.functions.collect_list("id").as("ids"))
    val trie = spark.sparkContext.broadcast(
      graft.mention.AhoCorasick.build(dict.as[(String, Seq[String])].collect().map(d => d._1 -> d._2)))

    val streamed = StreamingExtract.drain(spark,
      StreamingExtract.mentionsStream(spark, pagesDir, langLabels, trie), "mentions_stream", ckpt)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.link.Linker.explodeCandidates(
      graft.link.Linker.resolvedRows(spark, batchTexts, trie))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("restart with the same checkpoint processes nothing new (offset resume)") {
    val (pagesDir, _) = setup
    val base = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ckpt2-").toString
    val ckpt = s"$base/ckpt"
    val out = s"$base/out"
    def runOnce(): Long = {
      val q = StreamingExtract.textStream(spark, pagesDir, langLabels)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    val first = runOnce()
    assert(first > 0)
    // restart on the same checkpoint: committed offsets ⇒ no new rows appended
    val second = runOnce()
    assert(second == first, s"expected resume to skip all files: $first -> $second")
  }
}
