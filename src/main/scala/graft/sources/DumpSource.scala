package graft.sources

import graft.model.WikidataJson
import org.apache.spark.sql.{Dataset, SparkSession}

/** Wikidata-dump file source (SURVEY.md S1/S3).
  *
  * The reference streams `latest-all.json[.bz2|.gz]` line by line with a
  * producer/consumer pool and `skiplines` resume
  * (ref: src/wikidataDumpReader.py:144-238). Here:
  *  - `spark.read.text` — gz/bz2 codecs are native, splitting and
  *    parallelism come from the file source (bz2 is splittable; one 100 GB
  *    dump fans out across the cluster with no queue plumbing);
  *  - malformed lines and `[ ] ,` wrapper lines are dropped by the parser
  *    (counted, not fatal), matching `line_to_entity`'s None semantics;
  *  - resume is NOT line-skipping: downstream stages are MERGE-idempotent
  *    and checkpointed per input snapshot (graft.tables.Lineage), so a
  *    re-read is exactly-once at the table level.
  */
object DumpSource {

  /** Raw dump lines (text source handles .gz/.bz2 by extension). */
  def lines(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(path)
  }

  /** Parsed dump items (malformed lines dropped, like the reference). */
  def items(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    // keep the raw JSON per item (schema stays dynamic; stages project what
    // they need) — re-serialize compact via the parsed tree to guarantee
    // each row is one valid JSON document
    lines(spark, path).flatMap(l => WikidataJson.parseLine(l).map(_.toString))
  }

  /** Typed entity rows for relational use. */
  def entities(spark: SparkSession, path: String, language: String = "en"): Dataset[graft.model.Entity] = {
    import spark.implicits._
    lines(spark, path).flatMap(l => WikidataJson.parseLine(l).map(WikidataJson.normalize(_, language)))
  }
}
