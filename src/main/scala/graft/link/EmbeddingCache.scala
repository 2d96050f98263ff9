package graft.link

import graft.tables.{Checkpoints, MergeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding cache as a table join — SURVEY.md J9/E2.
  *
  * The reference caches query embeddings in a SQLite table keyed by text,
  * checked row-at-a-time before each encode (ref: src/JinaAI.py:41-46,
  * 70-104, 155-172). Re-expressed as set operations:
  *
  *   1. left join texts against the cache table on the text key;
  *   2. misses go through the batched embedder (one `mapPartitions` pass);
  *   3. fresh embeddings MERGE back into the cache (idempotent by key).
  *
  * One shuffle join + one narrow encode pass replaces per-row lookups; the
  * cache key is md5(text) so the shuffle moves digests, not documents.
  */
final class EmbeddingCache(spark: SparkSession, table: MergeTable) {

  /** texts(id, text) → (id, vec), hitting the cache where possible and
    * persisting every newly computed vector. Returns (result, missCount).
    */
  def embedWithCache(texts: DataFrame): (DataFrame, Long) =
    Checkpoints.superstep(spark, None) { s =>
      import spark.implicits._
      val keyed = texts.select(col("id"), col("text"), md5(col("text")).as("text_key"))

      val cached = table.currentSnapshot match {
        case Some(_) => table.read()
        case None    => Seq.empty[(String, Seq[Float])].toDF("text_key", "vec")
      }

      val joined = s.hold(keyed.join(cached, Seq("text_key"), "left"))
      val misses = joined.filter(col("vec").isNull)
        .select(col("text_key"), col("text")).dropDuplicates("text_key")

      val fresh = s.hold(Embedder.embedDataset(misses.as[(String, String)])
        .toDF("text_key", "vec"))
      val nMisses = fresh.count()
      if (nMisses > 0) table.merge(fresh)

      val hits = joined.filter(col("vec").isNotNull).select(col("id"), col("vec"))
      val filled = joined.filter(col("vec").isNull).select(col("id"), col("text_key"))
        .join(fresh, Seq("text_key")).select(col("id"), col("vec"))
      // the result is consumed lazily by the caller: materialize it before
      // the scope releases its inputs, or the caller's evaluation recomputes
      // the cache join twice
      (s.materialize(hits.unionByName(filled)), nMisses)
    }
}
