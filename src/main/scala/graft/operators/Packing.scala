package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GPT-style sequence packing — the step between a curated corpus and a
  * pretraining run: all documents' tokens are CONCATENATED in corpus order
  * and cut into fixed-capacity context windows (doc boundaries do not stop
  * the cut; a document straddling a cut point spans several windows). The
  * per-doc packing record is what a data loader needs: the doc's global
  * token offset and the window range it lands in.
  *
  * The whole computation is one exclusive prefix sum over token counts in
  * doc_id order — exact BIGINT arithmetic, so the DuckDB oracle (d17)
  * replays it with a window sum and both engines agree bit-for-bit.
  *
  * Scale design: the naive form is a GLOBAL running total
  * (`sum(n) OVER (ORDER BY doc_id)` with no partition key), which Spark
  * executes on ONE partition — worse than d13's per-stratum hazard, since
  * there is not even a stratum to parallelize over. [[pack]] is the d13
  * [[Mixture]] discipline with a single global stream: range-repartition by
  * doc_id, per-partition totals (pass 1, a bounded nPartitions-row
  * collect), exclusive offsets broadcast back, per-partition running sum
  * seeded by the offset (pass 2). Bit-identical to the window form
  * ([[packWindowed]], spec-pinned at several partition counts) because
  * addition is associative across the range split.
  */
object Packing {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** d17 gated query: pack the fixture corpus at a capacity small enough
    * that both multi-window docs and multi-doc windows occur.
    */
  def d17SequencePacking(spark: SparkSession, dir: String,
                         capacity: Long = 512L): DataFrame =
    pack(spark, docs(spark, dir), capacity)

  /** Distributed two-pass prefix-sum packing (see object doc). Returns
    * (doc_id, n_tokens, start_off, first_window, last_window, n_windows);
    * zero-token docs occupy no window (null range, n_windows 0).
    */
  def pack(spark: SparkSession, documents: DataFrame, capacity: Long,
           numPartitions: Int = 0): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    import spark.implicits._
    val nParts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    Checkpoints.superstep(spark, None) { s =>
      val parted = s.hold(documents.select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .repartitionByRange(nParts, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .as[(Long, Long)])
      // pass 1: per-partition token totals (runs once thanks to the hold)
      val partTotals = parted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var total = 0L
        it.foreach { case (_, n) => total += n }
        Iterator.single((pid, total))
      }.collect() // bounded: nPartitions rows
      val offsets: Map[Int, Long] = {
        val sorted = partTotals.sortBy(_._1)
        sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2)).toMap
      }
      val offB = spark.sparkContext.broadcast(offsets)
      // pass 2: running offset seeded by the partition's exclusive total
      s.materialize(parted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var run = offB.value.getOrElse(pid, 0L)
        it.map { case (id, n) =>
          val start = run
          run += n
          if (n == 0L) (id, n, start, None: Option[Long], None: Option[Long], 0L)
          else {
            val fw = start / capacity
            val lw = (start + n - 1) / capacity
            (id, n, start, Some(fw), Some(lw), lw - fw + 1)
          }
        }
      }.toDF("doc_id", "n_tokens", "start_off", "first_window", "last_window", "n_windows"))
    }
  }

  /** Reference form: the global running-total window — correct, and the
    * spec's independent check of [[pack]], but executes on a single
    * partition (the "No Partition Defined" hazard the scale path exists to
    * avoid). Not the gated query.
    */
  def packWindowed(documents: DataFrame, capacity: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_off", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(
        col("doc_id"), col("n_tokens"), col("start_off"),
        when(col("n_tokens") > 0, expr(s"start_off div ${capacity}L")).as("first_window"),
        when(col("n_tokens") > 0,
          expr(s"(start_off + n_tokens - 1) div ${capacity}L")).as("last_window"),
        when(col("n_tokens") > 0,
          expr(s"(start_off + n_tokens - 1) div ${capacity}L - start_off div ${capacity}L + 1"))
          .otherwise(lit(0L)).as("n_windows"))
  }
}
