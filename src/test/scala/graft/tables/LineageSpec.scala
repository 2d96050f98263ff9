package graft.tables

import graft.SparkTestBase
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The stage-commit protocol of [[Lineage]]: atomic markers, replay-safe
  * lineage rows, and the output frame's cache released on every path.
  */
class LineageSpec extends AnyFunSuite {

  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshRoot(): Path =
    Files.createTempDirectory(Paths.get("target"), "lineage-")

  private def stageFiles(root: Path): Seq[String] =
    Files.list(root.resolve("_stages")).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("a killed marker write leaves a temp file that is not done; the re-run replaces it") {
    val root = freshRoot()
    val lineage = new Lineage(spark, root.toString)
    // a kill between the temp write and the move: truncated temp, no marker
    Files.createDirectories(root.resolve("_stages"))
    Files.writeString(root.resolve("_stages").resolve("textify@3.tmp"), "")
    assert(!lineage.isDone("textify", 3L))

    var runs = 0
    val out = lineage.runStage("textify", 3L) { runs += 1; 42L }
    assert(runs == 1 && out == 42L)
    assert(lineage.isDone("textify", 3L) && lineage.recordedOutput("textify", 3L) == 42L)
    assert(stageFiles(root) == Seq("textify@3"))

    // committed: a second run skips the body and returns the recorded output
    assert(lineage.runStage("textify", 3L) { runs += 1; 7L } == 42L && runs == 1)
  }

  test("a replayed capture replaces its (stage, input snapshot) rows instead of appending") {
    val root = freshRoot()
    val lineage = new Lineage(spark, root.toString)
    val df = spark.range(0, 100, 1, 4).toDF("id")
    lineage.capture("harvest", 5L, df, 10L)
    lineage.capture("harvest", 6L, df, 10L)
    // the replay after a kill between capture and marker
    lineage.capture("harvest", 5L, df, 20L)

    val rows = lineage.lineageRows()
    assert(rows.columns.toSeq ==
      Seq("partition", "row_count", "stage", "input_snapshot", "duration_ms", "recorded_ms"))
    val replayed = rows.filter(col("input_snapshot") === 5L)
      .select("partition", "row_count", "duration_ms").as[(Int, Long, Long)].collect().sorted.toSeq
    assert(replayed == (0 until 4).map(p => (p, 25L, 20L)))
    assert(rows.filter(col("input_snapshot") === 6L).count() == 4)
  }

  test("lineage rows written flat under _lineage by earlier roots stay readable") {
    val root = freshRoot()
    // the pre-key layout: one flat append-mode directory
    Seq((0, 3L, "old", 0L, 1L, 1L), (1, 4L, "old", 0L, 1L, 1L))
      .toDF("partition", "row_count", "stage", "input_snapshot", "duration_ms", "recorded_ms")
      .write.mode("append").parquet(root.resolve("_lineage").toString)
    val lineage = new Lineage(spark, root.toString)
    lineage.capture("ingest", 0L, spark.range(0, 10, 1, 2).toDF("id"), 1L)
    assert(lineage.lineageRows().groupBy("stage").count().as[(String, Long)].collect().toMap ==
      Map("ingest" -> 2L, "old" -> 2L))
  }

  test("commit persists the output once, writes, captures, marks, and releases the cache") {
    spark.catalog.clearCache()
    val root = freshRoot()
    val lineage = new Lineage(spark, root.toString)
    var built = 0
    var cachedAtWrite = false
    val out = lineage.commit("docs", 9L) { built += 1; spark.range(0, 12, 1, 3).toDF("id") } { df =>
      cachedAtWrite = !Bridge.cacheIsEmpty(spark)
      df.count()
    }
    assert(out == 12L && built == 1 && cachedAtWrite)
    assert(Bridge.cacheIsEmpty(spark))
    assert(lineage.recordedOutput("docs", 9L) == 12L)
    assert(lineage.lineageRows().filter(col("stage") === "docs")
      .agg(sum("row_count")).as[Long].head() == 12L)

    // done: neither the frame nor the write runs again
    assert(lineage.commit("docs", 9L) { built += 1; spark.range(1).toDF("id") }(_ => -1L) == 12L)
    assert(built == 1)
  }

  test("a write that throws leaves no marker, no lineage rows and no cached frame") {
    spark.catalog.clearCache()
    val root = freshRoot()
    val lineage = new Lineage(spark, root.toString)
    intercept[IllegalStateException] {
      lineage.commit("link", 2L)(spark.range(5).toDF("id")) { df =>
        df.count()
        throw new IllegalStateException("write failed")
      }
    }
    assert(Bridge.cacheIsEmpty(spark))
    assert(!lineage.isDone("link", 2L))
    assert(!Files.exists(root.resolve("_lineage")))
  }
}
