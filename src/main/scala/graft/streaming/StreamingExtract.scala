package graft.streaming

import graft.model.WikidataJson
import graft.pipeline.{PagesGen, TextifyStage}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Incremental KG extraction as a Structured Stream (SURVEY.md §2.9): new
  * page files → extract → textify → triples, exactly the batch logic behind
  * `readStream`/`writeStream`. `Trigger.AvailableNow` + a checkpoint
  * directory gives the reference's resume semantics (SKIPLINES/OFFSET)
  * natively: a restarted stream continues from the committed offset, and
  * deterministic triple uuids keep any replayed batch idempotent at the
  * sink.
  */
object StreamingExtract {

  /** Streaming extraction over a directory of pages parquet files.
    * Label resolution uses a broadcast snapshot of the label dimension
    * (streams can't shuffle-join a growing dim per microbatch without
    * stream-static join — which this is: the labels side is static here).
    */
  def triplesStream(spark: SparkSession, pagesDir: String,
                    labels: Broadcast[Map[String, String]]): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(pagesDir).schema
    spark.readStream.schema(schema).parquet(pagesDir)
      .select("url", "html").as[(String, Array[Byte])]
      .flatMap { case (_, html) =>
        PagesGen.extractPayload(html).flatMap(WikidataJson.parseLine).toSeq
          .flatMap(item => graft.triples.Triples.fromItem(item, labels.value.get))
      }
      .toDF()
  }

  /** Streaming byte-identical textification — the SAME per-language
    * semantics as the batch gather-join path: entities normalize in
    * `dataLang(page lang)` and labels resolve from the (id, dataLang) dim,
    * so de/ar pages stream the exact bytes the batch texts table holds.
    * `labels` is the per-language dimension keyed (id, dataLang).
    */
  def textStream(spark: SparkSession, pagesDir: String,
                 labels: Broadcast[Map[(String, String), String]]): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(pagesDir).schema
    spark.readStream.schema(schema).parquet(pagesDir)
      .select("url", "html", "lang").as[(String, Array[Byte], String)]
      .flatMap { case (url, html, lang) =>
        PagesGen.extractPayload(html).flatMap(WikidataJson.parseLine).map { item =>
          val (e, textifier) = TextifyStage.pageTextifier(item, lang,
            (id, dl) => labels.value.get((id, dl)))
          (url, e.id, textifier.entityToText(e))
        }
      }
      .toDF("url", "id", "text")
  }

  /** Streaming mention detection: the same broadcast-trie narrow pass the
    * batch path runs (Linker semantics: leftmost-longest resolve + the
    * relational candidate explode), over the streaming text. Candidate
    * explode stays the shared [[graft.link.Linker.explodeCandidates]] chain
    * so batch and stream cannot drift.
    */
  def mentionsStream(spark: SparkSession, pagesDir: String,
                     labels: Broadcast[Map[(String, String), String]],
                     trie: Broadcast[graft.mention.AhoCorasick],
                     maxCandidates: Int = 50): DataFrame = {
    // the SAME batch kernels over the streaming text frame: resolvedRows is
    // a narrow flatMap (streaming-safe), explodeCandidates is the shared
    // relational chain — batch and stream cannot drift
    val texts = textStream(spark, pagesDir, labels).toDF("url", "id", "text")
    graft.link.Linker.explodeCandidates(
      graft.link.Linker.resolvedRows(spark, texts, trie), maxCandidates)
  }

  /** Drain an AvailableNow run of `df` into a memory sink and return it. */
  def drain(spark: SparkSession, df: DataFrame, name: String, checkpoint: String): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
