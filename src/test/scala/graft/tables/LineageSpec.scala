package graft.tables

import graft.SparkTestBase
import org.apache.spark.sql.functions.{col, count, lit, spark_partition_id, sum}
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

  private def keyRows(lineage: Lineage, stage: String): Seq[(Int, Long)] =
    lineage.lineageRows().filter(col("stage") === stage)
      .select("partition", "row_count").as[(Int, Long)].collect().sorted.toSeq

  test("capture skips empty partitions and records what groupBy(spark_partition_id()) counts") {
    val df = spark.range(0, 10, 1, 4).filter(col("id") < 3).toDF("id")
    // the Spark-side form lineage rows were captured with before
    val old = df.groupBy(spark_partition_id().as("partition")).agg(count(lit(1)).as("row_count"))
      .withColumn("stage", lit("old")).withColumn("input_snapshot", lit(0L))
      .withColumn("duration_ms", lit(1L)).withColumn("recorded_ms", lit(1L))
    val oldRoot = freshRoot()
    old.write.parquet(oldRoot.resolve("_lineage").resolve("old@0").toString)
    val oldLineage = new Lineage(spark, oldRoot.toString)

    val lineage = new Lineage(spark, freshRoot().toString)
    lineage.capture("filtered", 0L, df, 1L)
    assert(keyRows(lineage, "filtered") == Seq((0, 2L), (1, 1L)))
    assert(keyRows(lineage, "filtered") == keyRows(oldLineage, "old"))
    assert(lineage.lineageRows().schema == oldLineage.lineageRows().schema)
  }

  test("a killed capture's hidden temp file is ignored by readers and replaced by the re-run") {
    val root = freshRoot()
    val lineage = new Lineage(spark, root.toString)
    lineage.capture("harvest", 1L, spark.range(0, 6, 1, 2).toDF("id"), 1L)
    // a kill mid-write: a truncated temp file in the key dir, no rows file
    val keyDir = root.resolve("_lineage").resolve("textify@3")
    Files.createDirectories(keyDir)
    Files.writeString(keyDir.resolve(".rows.parquet.tmp"), "PAR1 truncated")
    assert(lineage.lineageRows().select("stage").as[String].collect().toSet == Set("harvest"))

    lineage.capture("textify", 3L, spark.range(0, 9, 1, 3).toDF("id"), 1L)
    assert(keyRows(lineage, "textify") == Seq((0, 3L), (1, 3L), (2, 3L)))
    assert(Files.list(keyDir).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("rows.parquet"))
  }

  test("a re-capture replaces a key's rows written by Spark in the per-key layout") {
    val root = freshRoot()
    val keyDir = root.resolve("_lineage").resolve("docs@4")
    spark.range(0, 8, 1, 2).toDF("id")
      .groupBy(spark_partition_id().as("partition")).agg(count(lit(1)).as("row_count"))
      .withColumn("stage", lit("docs")).withColumn("input_snapshot", lit(4L))
      .withColumn("duration_ms", lit(1L)).withColumn("recorded_ms", lit(1L))
      .write.mode("overwrite").parquet(keyDir.toString)
    val lineage = new Lineage(spark, root.toString)
    assert(keyRows(lineage, "docs") == Seq((0, 4L), (1, 4L)))
    lineage.capture("docs", 4L, spark.range(0, 3, 1, 1).toDF("id"), 1L)
    assert(keyRows(lineage, "docs") == Seq((0, 3L)))
    assert(Files.list(keyDir).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("rows.parquet"))
  }
}
