package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Keyword top-K search — the local stand-in for the reference's
  * Elasticsearch retrieval path (SURVEY.md S12/K2,
  * ref: src/wikidataRetriever.py:189-255: match-or query, size K, score
  * desc). BM25 scoring over an inverted index built with plain Spark ops:
  *
  *   postings: explode(doc, term) → term frequencies
  *   df/idf:   groupBy(term)
  *   score:    query-term semi-join on the postings + BM25 per (doc, term),
  *             summed per doc, window top-K
  *
  * The postings build is one shuffle; each query is a broadcast semi-join —
  * no document text moves after indexing. This is exactly how you'd serve
  * boolean-or keyword search over 100 TB without an external engine.
  */
object KeywordSearch {

  private val k1 = 1.2
  private val b = 0.75

  /** (postings, stats, avgdl): postings(doc_id, term, tf, dl), one row per
    * distinct (doc, term); stats(term, df, idf) with N docs folded into
    * idf. The term stream and the raw per-(doc, term) aggregate are held in
    * the caller's scope `s` — terms feed the tf aggregate AND the
    * doc-length rollup AND the avgdl constant, the raw aggregate feeds the
    * tf join side AND the df rollup, so without the caches the explode
    * executed three times and the aggregate twice per build (round-6).
    */
  private def buildIndex(s: Checkpoints.Superstep,
                         docs: DataFrame): (DataFrame, DataFrame, Double) = {
    val terms = s.hold(docs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\W+")).as("term"))
      .filter(length(col("term")) > 0))
    val postings = s.hold(terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val docLen = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val withLen = postings.join(docLen, Seq("doc_id"))
    // one driver action for both corpus constants (N and avgdl)
    val consts = docs.agg(count(lit(1)).as("n"))
      .crossJoin(docLen.agg(avg("dl").as("avgdl"))).collect()(0)
    val n = consts.getLong(0)
    val avgdl = consts.getDouble(1)
    val stats = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf", log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    (withLen, stats, avgdl)
  }

  /** A built, reusable index: postings/stats persisted so every subsequent
    * query batch pays only its own broadcast semi-join — the serving shape
    * (the reference keeps its index inside Elasticsearch for the same
    * reason; at 100 TB the persisted frames would be bucketed tables keyed
    * by term instead).
    */
  final class Index private[KeywordSearch] (val postings: DataFrame, val stats: DataFrame,
                                            val avgdl: Double) {
    def search(spark: SparkSession, queries: Seq[(Long, String)], k: Int = 10): DataFrame =
      KeywordSearch.searchIndexed(spark, this, queries, k)
    def unpersist(): Unit = { postings.unpersist(); stats.unpersist() }
  }

  /** Build once, query many times: the serving frames are persisted AND
    * materialized up front, so the build-side caches can be released here
    * rather than leaking for the index's lifetime. The serving frames are
    * the caller's until [[Index.unpersist]] (released here only if the
    * build throws).
    */
  def index(spark: SparkSession, docs: DataFrame): Index =
    Checkpoints.superstep(spark, None) { s =>
      val (postings, stats, avgdl) = buildIndex(s, docs)
      val idx = new Index(postings.persist(), stats.persist(), avgdl)
      try { idx.postings.count(); idx.stats.count() }
      catch { case e: Throwable => idx.unpersist(); throw e }
      idx
    }

  private def searchIndexed(spark: SparkSession, idx: Index,
                            queries: Seq[(Long, String)], k: Int): DataFrame = {
    import spark.implicits._
    val queryTerms = queries
      .flatMap { case (qid, q) =>
        q.toLowerCase.split("\\W+").filter(_.nonEmpty).distinct.map(t => (qid, t))
      }.toDF("query_id", "term")

    val scored = idx.postings
      .join(broadcast(queryTerms), Seq("term"))
      .join(broadcast(idx.stats), Seq("term"))
      .withColumn("bm25",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(idx.avgdl))))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("bm25"), 6).as("score"), count(lit(1)).as("n_matched_terms"))

    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Match-or BM25 top-K for a set of queries (query_id, query_text):
    * a one-shot build over `docs` whose caches last for the call.
    */
  def search(spark: SparkSession, docs: DataFrame, queries: Seq[(Long, String)],
             k: Int = 10): DataFrame =
    Checkpoints.superstep(spark, None) { s =>
      val (postings, stats, avgdl) = buildIndex(s, docs)
      s.materialize(searchIndexed(spark, new Index(postings, stats, avgdl), queries, k))
    }

  /** queries() entry: deterministic query set over the documents table. */
  def searchDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val queries = Seq(
      (1L, "spark window batch"), (2L, "customer join filter"),
      (3L, "vector merge stream"), (4L, "the quick missing terms"))
    search(spark, docs, queries, k = 10)
  }
}
