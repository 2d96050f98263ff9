package graft

import graft.model.WikidataJson
import graft.pipeline.{PagesGen, TextifyStage}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** ScalingBench's narrow kernel renders each page from the labels of its
  * `prep` through [[TextifyStage.pageTextifier]]; that text must be the
  * pipeline's own, so the bench times the textify it claims to.
  */
class ScalingBenchSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("per-page text from prep's labels equals TextifyStage.render, de/ar pages included") {
    val path = Files.createTempDirectory(Paths.get("target"), "scaling-").resolve("pages").toString
    PagesGen.pages(spark, 60, partitions = 4).write.parquet(path)
    val (labels, _) = ScalingBench.prep(spark, path)
    val kernel = spark.read.parquet(path).select("url", "html", "lang")
      .as[(String, Array[Byte], String)].collect()
      .flatMap { case (url, html, lang) =>
        PagesGen.extractPayload(html).flatMap(WikidataJson.parseLine).map { item =>
          val (entity, textifier) = TextifyStage.pageTextifier(item, lang, (id, dl) => labels.get((id, dl)))
          url -> textifier.entityToText(entity)
        }
      }.toMap

    val payloads = TextifyStage.payloads(spark, spark.read.parquet(path))
    val rendered = TextifyStage.render(spark, payloads, TextifyStage.harvestLabels(spark, payloads))
      .select("url", "lang", "text").as[(String, String, String)].collect()
    assert(rendered.map(_._2).toSet == PagesGen.langs.toSet)
    assert(rendered.length == kernel.size)
    rendered.foreach { case (url, lang, text) =>
      assert(kernel.get(url).contains(text), s"$lang page $url renders differently")
    }
  }
}
