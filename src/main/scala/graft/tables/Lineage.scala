package graft.tables

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Per-partition lineage + exactly-once stage resume (SURVEY.md §2.9, §7.1).
  *
  * Generalizes the reference's manual resume machinery (SKIPLINES line
  * offsets, SQL OFFSET, null-column filters + periodic pickles —
  * README.md:25,61, docker/3:61, docker/4:68-87) into one commit protocol,
  * owned by [[commit]]. A stage keyed by (stage, input snapshot):
  *
  *  1. is skipped when its marker exists (its recorded output snapshot is
  *     returned);
  *  1. otherwise builds its output frame and persists it once;
  *  1. writes it (a MERGE/replace commit; MERGE idempotency makes a replay
  *     converge to the same table);
  *  1. captures its lineage rows — one per non-empty output partition with
  *     row count and build+write duration. The counts take one collect
  *     with no shuffle of their own; the rows are written from the driver as one parquet
  *     file, a hidden temp file moved atomically into
  *     `<root>/_lineage/<stage>@<input>/`. A replay replaces that key's rows,
  *     so a kill between capture and marker never double-counts;
  *  1. writes its marker `<root>/_stages/<stage>@<input>` holding the output
  *     snapshot — a temp file moved into place atomically, so a kill
  *     mid-write leaves no marker (the stage re-runs) rather than a
  *     truncated one.
  *
  * The output frame is unpersisted when the stage ends, also on a throw.
  */
final class Lineage(spark: SparkSession, root: String) {

  private def stagesDir = Paths.get(root, "_stages")
  private def stageMarker(stage: String, inputSnapshot: Long) =
    stagesDir.resolve(s"$stage@$inputSnapshot")

  /** Only the exact marker name counts, never a temp file a killed
    * [[markDone]] left behind.
    */
  def isDone(stage: String, inputSnapshot: Long): Boolean =
    Files.exists(stageMarker(stage, inputSnapshot))

  def recordedOutput(stage: String, inputSnapshot: Long): Long =
    Files.readString(stageMarker(stage, inputSnapshot)).trim.toLong

  /** Capture per-partition row counts of a stage output, replacing any rows
    * an earlier capture of the same (stage, inputSnapshot) left. Partitions
    * without rows get no row, as with `groupBy(spark_partition_id())`. A
    * capture killed mid-write leaves only a hidden temp file, which readers
    * skip and the re-run overwrites.
    */
  def capture(stage: String, inputSnapshot: Long, df: DataFrame, durationMs: Long): Unit = {
    // a fresh plan over `df`, so a persisted frame is counted from its cache
    val counts = df.select().queryExecution.toRdd.mapPartitionsWithIndex { (p, rows) =>
      var n = 0L
      while (rows.hasNext) { rows.next(); n += 1 }
      if (n == 0) Iterator.empty else Iterator.single((p, n))
    }.collect()
    val recordedMs = System.currentTimeMillis()
    val keyDir = Paths.get(root, "_lineage", s"$stage@$inputSnapshot")
    Files.createDirectories(keyDir)
    val tmp = keyDir.resolve(".rows.parquet.tmp")
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(Lineage.parquetSchema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try counts.foreach { case (p, n) =>
      val row = new SimpleGroup(Lineage.parquetSchema)
      row.add("partition", p)
      row.add("row_count", n)
      row.add("stage", stage)
      row.add("input_snapshot", inputSnapshot)
      row.add("duration_ms", durationMs)
      row.add("recorded_ms", recordedMs)
      writer.write(row)
    } finally writer.close()
    // files of an earlier layout (Spark part files) go; the move replaces
    // this layout's own file atomically
    val rowsFile = keyDir.resolve("rows.parquet")
    val st = Files.list(keyDir)
    try st.iterator().asScala.filterNot(f => f == tmp || f == rowsFile).foreach(Files.delete)
    finally st.close()
    Files.move(tmp, rowsFile, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Temp file `<stage>@<input>.tmp` in `_stages/`, then an atomic move onto
    * the marker name (the `_current` pattern of [[MergeTable]]); a re-run
    * overwrites a temp file a killed write left behind.
    */
  def markDone(stage: String, inputSnapshot: Long, outputSnapshot: Long): Unit = {
    Files.createDirectories(stagesDir)
    val tmp = stagesDir.resolve(s"$stage@$inputSnapshot.tmp")
    Files.writeString(tmp, outputSnapshot.toString)
    Files.move(tmp, stageMarker(stage, inputSnapshot),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Every stage's rows; roots written before the per-key layout keep their
    * flat files at the top of `_lineage/`, which are read too.
    */
  def lineageRows(): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(s"$root/_lineage")

  /** Run `body` unless this (stage, inputSnapshot) already committed.
    * `body` must return the output snapshot id after its MERGE.
    */
  def runStage(stage: String, inputSnapshot: Long)(body: => Long): Long =
    if (isDone(stage, inputSnapshot)) recordedOutput(stage, inputSnapshot)
    else {
      val out = body
      markDone(stage, inputSnapshot, out)
      out
    }

  /** One stage under the commit protocol above: `df` builds the output
    * (side writes inside it run only when the stage runs), `write` commits
    * it and returns the output snapshot id.
    */
  def commit(stage: String, inputSnapshot: Long)(df: => DataFrame)(write: DataFrame => Long): Long =
    runStage(stage, inputSnapshot) {
      val t0 = System.nanoTime()
      val out = df.persist()
      try {
        val snap = write(out)
        capture(stage, inputSnapshot, out, (System.nanoTime() - t0) / 1000000)
        snap
      } finally out.unpersist()
    }
}

private object Lineage {

  /** The lineage row schema, as Spark wrote the rows of earlier roots. */
  val parquetSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 partition;
      |  required int64 row_count;
      |  required binary stage (STRING);
      |  required int64 input_snapshot;
      |  required int64 duration_ms;
      |  required int64 recorded_ms;
      |}""".stripMargin)
}
