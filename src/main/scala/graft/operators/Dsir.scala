package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every raw document by the log-likelihood ratio of a TARGET-domain hashed
  * n-gram model against the RAW-corpus model, so selection pulls the raw
  * pool toward the target distribution. The deterministic stand-ins keep
  * the whole computation SQL-replayable: features are unigrams hashed into
  * `buckets` cells with the md5 60-bit recipe, both models are add-one-
  * smoothed bucket frequencies, and the per-document weight is the MEAN
  * per-token log ratio (same ranking as the sum, but bounded magnitude so
  * 6dp rounding is far outside float-sum noise). The target domain here is
  * the corpus's `lang = 'en'` slice — the operator takes any target
  * predicate.
  *
  * Generalizes the reference's per-language corpus splits
  * (src/wikidataDB.py per-LANG pipelines) into distribution-level selection.
  *
  * 100 TB shape: both "models" are one map-side-combined groupBy over the
  * token stream collapsing to ≤ `buckets` rows — they BROADCAST (in real
  * DSIR the target model is trained offline and arrives as a broadcast
  * dictionary; the in-corpus train here is the same two scalar aggregates).
  * Scoring joins each token's bucket to the broadcast dim and partial-
  * aggregates per doc: the only wide shuffle carries (doc_id, partial-sum)
  * scalars. Tokens never leave their partition as strings.
  */
object Dsir {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def d19DsirWeights(spark: SparkSession, dir: String,
                     buckets: Int = 256,
                     selectAbove: Double = 0.0): DataFrame =
    d19Frame(docs(spark, dir), col("lang") === "en", buckets, selectAbove)

  /** [[d19DsirWeights]] over any (doc_id, text) frame with an arbitrary
    * target-domain predicate. The token stream is held — it feeds the
    * raw model, the target model, and the scoring pass.
    */
  def d19Frame(documents: DataFrame, isTarget: org.apache.spark.sql.Column,
               buckets: Int, selectAbove: Double): DataFrame =
    Checkpoints.superstep(documents.sparkSession, None) { s =>
      val toks = s.hold(documents
        .select(col("doc_id"), isTarget.as("tgt"),
          TextAnalysis.wordsCol(col("text")).as("w"))
        // explode_outer + null filter: the d12 lesson
        .select(col("doc_id"), col("tgt"), explode_outer(col("w")).as("word"))
        .filter(col("word").isNotNull)
        .select(col("doc_id"), col("tgt"),
          pmod(Sketches.kmvHash(col("word")), lit(buckets.toLong)).as("b")))
      s.materialize(d19Plan(documents, toks, buckets, selectAbove))
    }

  /** The model/score plan over a (pre-persisted) token-bucket stream — the
    * seam the plan-shape spec inspects (the entry's eager checkpoint hides
    * it).
    */
  def d19Plan(documents: DataFrame, toks: DataFrame,
              buckets: Int, selectAbove: Double): DataFrame = {
    // both models in ONE pass over the stream: conditional counts collapse
    // to <= `buckets` rows (map-side combined), totals ride along
    val model = toks.groupBy("b").agg(
      count(lit(1)).as("raw_c"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("tgt_c"))
    val totals = model.agg(
      sum(col("raw_c")).as("raw_t"), sum(col("tgt_c")).as("tgt_t"))
    // add-one-smoothed log ratio per bucket, resolved INSIDE the broadcast
    // dim so the big side evaluates no transcendental per token
    val dim = model.crossJoin(broadcast(totals)).select(
      col("b"),
      (log((col("tgt_c") + 1L).cast("double") /
          (col("tgt_t") + lit(buckets.toLong)).cast("double"))
        - log((col("raw_c") + 1L).cast("double") /
          (col("raw_t") + lit(buckets.toLong)).cast("double"))).as("lr"))
    val scored = toks
      .join(broadcast(dim), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("lr")).as("_sum"))
      .withColumn("_w", col("_sum") / col("n_words").cast("double"))
    documents.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left")
      // verdict on the ROUNDED weight (the d16 contract): the raw float sum
      // differs between engines in low bits; after 6dp rounding both hold
      // the identical value. Zero-sign guard as on every rounded score.
      .withColumn("_rw", round(col("_w"), 6) + lit(0.0))
      .select(
        col("doc_id"), col("lang"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        col("_rw").as("dsir_weight"),
        coalesce(col("_rw") > selectAbove, lit(false)).as("selected"))
  }
}
