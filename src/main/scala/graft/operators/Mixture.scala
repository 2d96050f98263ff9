package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic token-budget mixture sampling — the data-mixing step of a
  * training-data pipeline: each stratum (language here; domain/source in
  * general) gets a TOKEN budget, and the sampler keeps documents, in a
  * reproducible pseudo-random order, until the stratum's budget is spent.
  * Complements [[TextAnalysis.d6StratifiedSample]]: d6 samples by RATE
  * (keep p% of docs), this samples by BUDGET (keep ~N tokens) — the form
  * mixture weights are actually specified in (e.g. "30% code, 40% web, 2
  * epochs of books" → token counts, not doc counts).
  *
  * Order is ascending md5-derived hash of doc_id: a pure function of the
  * key, so the selected set is stable across retries, repartitions and
  * engines (the DuckDB oracle replays it exactly), and adding new docs
  * only perturbs the selection near the budget boundary instead of
  * reshuffling everything (the hash order is fixed; a new doc displaces at
  * most the tail).
  *
  * Scale design — the naive form is a per-stratum running total:
  * `sum(n_tokens) OVER (PARTITION BY lang ORDER BY h)`, which Spark
  * executes as ONE partition per stratum — a 3-language corpus caps at 3
  * tasks no matter how many executors exist, and a 10¹²-token stratum
  * must stream through a single sorter. [[tokenBudget]] instead computes
  * the SAME cumulative sums with a distributed two-pass prefix sum:
  *
  *  1. range-repartition by (stratum, h) into any number of partitions and
  *     sort within each — global order across partition boundaries;
  *  2. first pass: per-partition per-stratum token totals — a tiny
  *     (nPartitions × nStrata) frame collected to the driver;
  *  3. offsets: for each (partition, stratum), the sum of that stratum's
  *     totals in all EARLIER partitions — broadcast back;
  *  4. second pass: a per-partition running sum seeded by the offset,
  *     filtered against the stratum's budget as it streams.
  *
  * Every partition works in parallel in both passes; the only global
  * structure is the offsets table, bounded by partitions × strata. The
  * result is bit-identical to the window form ([[tokenBudgetWindowed]],
  * spec-pinned) because cumulative sums are associative across the range
  * split. Selection does not depend on where the range boundaries land, so
  * the range partitioner's sampling cannot perturb the output.
  */
object Mixture {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Default per-language token budgets for the gated query: large enough
    * that every stratum keeps a meaningful prefix at sf0.01, small enough
    * that every stratum also DROPS docs (both sides of the cut exercised).
    */
  val defaultBudgets: Map[String, Long] = Map("en" -> 3000L, "de" -> 1500L)
  val defaultBudgetOther: Long = 800L

  /** 60-bit md5-derived order key — the d8/d10 [[Sketches.kmvHash]] recipe
    * over the stringified id (DuckDB: `CAST('0x' || substring(md5(CAST(
    * doc_id AS VARCHAR)), 1, 15) AS BIGINT)`). doc_id breaks
    * (astronomically rare, but at 10^12 docs possible) hash ties everywhere
    * the order is consumed, so it is total on both engines.
    */
  private def orderHash = Sketches.kmvHash(col("doc_id").cast("string"))

  private def budgetFor(budgets: Map[String, Long], other: Long)(lang: String): Long =
    budgets.getOrElse(lang, other)

  /** d13 gated query: the SCALE path over the fixture corpus. */
  def d13TokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(spark, docs(spark, dir), defaultBudgets, defaultBudgetOther)

  /** Budget cut via distributed two-pass prefix sum (see object doc). */
  def tokenBudget(spark: SparkSession, documents: DataFrame,
                  budgets: Map[String, Long], budgetOther: Long,
                  numPartitions: Int = 0): DataFrame = {
    import spark.implicits._
    val nParts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val base = documents.select(
      col("doc_id"), col("lang"), orderHash.as("h"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    Checkpoints.superstep(spark, None) { s =>
      val parted = s.hold(base
        .repartitionByRange(nParts, col("lang"), col("h"), col("doc_id"))
        .sortWithinPartitions("lang", "h", "doc_id")
        .as[(Long, String, Long, Long)])
      // pass 1: per-partition per-stratum totals (runs once thanks to the hold)
      val partTotals = parted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val sums = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (_, lang, _, n) => sums(lang) = sums.getOrElse(lang, 0L) + n }
        sums.iterator.map { case (lang, total) => (pid, lang, total) }
      }.collect() // bounded: nPartitions × nStrata rows
      // offsets: per (pid, lang), tokens of that lang in all earlier partitions
      val offsets: Map[(Int, String), Long] = {
        val byLang = partTotals.groupBy(_._2)
        byLang.flatMap { case (lang, rows) =>
          val sorted = rows.sortBy(_._1)
          val cums = sorted.scanLeft(0L)(_ + _._3)
          sorted.zip(cums).map { case ((pid, _, _), before) => (pid, lang) -> before }
        }
      }
      // partitions where EVERY present stratum's offset already exceeds its
      // budget can't emit anything — pass 2 returns an empty iterator without
      // consuming the input, so their rows are never even pulled from the
      // scan (selection is a tiny hash-prefix at real scale: most of the
      // corpus lives in skippable partitions)
      // <= not <: at off == budget a zero-token doc still satisfies
      // `cum <= budget` and the window form keeps it — the partition must run
      val keepPids: Set[Int] = offsets.collect {
        case ((pid, lang), off) if off <= budgetFor(budgets, budgetOther)(lang) => pid
      }.toSet
      val offB = spark.sparkContext.broadcast(offsets)
      val budB = spark.sparkContext.broadcast((budgets, budgetOther))
      val keepB = spark.sparkContext.broadcast(keepPids)
      // pass 2: running sum seeded by the partition's offset, budget filter
      s.materialize(parted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        if (!keepB.value.contains(pid)) Iterator.empty
        else {
          val (buds, other) = budB.value
          val running = scala.collection.mutable.HashMap.empty[String, Long]
          it.flatMap { case (id, lang, _, n) =>
            val cum = running.getOrElse(lang,
              offB.value.getOrElse((pid, lang), 0L)) + n
            running(lang) = cum
            if (cum <= budgetFor(buds, other)(lang)) Some((id, lang, n, cum)) else None
          }
        }
      }.toDF("doc_id", "lang", "n_tokens", "cum_tokens"))
    }
  }

  /** Reference form: the per-stratum running-total window — correct, and
    * the spec's independent check of [[tokenBudget]], but one partition per
    * stratum at execution time (the "No Partition Defined"-class hazard the
    * scale path exists to avoid). Not the gated query.
    */
  def tokenBudgetWindowed(spark: SparkSession, documents: DataFrame,
                          budgets: Map[String, Long], budgetOther: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetCol = budgets.foldLeft(lit(budgetOther)) { case (acc, (lang, b)) =>
      when(col("lang") === lang, lit(b)).otherwise(acc)
    }
    documents.select(
        col("doc_id"), col("lang"), orderHash.as("h"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budgetCol)
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
  }
}
