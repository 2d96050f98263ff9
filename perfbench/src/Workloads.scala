package graftbench

import graft.SparkEntry
import graft.link.Embedder
import graft.mention.AhoCorasick
import graft.model.{Triple, WikidataJson}
import graft.pipeline.{PagesGen, TextifyStage}
import graft.tables.{Lineage, MergeTable}
import graft.textify.{LangVariant, Textifier}
import graft.triples.Triples
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: inputs come only from the seed; `op` is the timed
  * unit of work; `check` verifies outputs outside the timed region.
  */
trait Workload {
  def name: String
  /** What one op processes (`pages`, `queries`), for the summary line. */
  def unitName: String
  def unitsPerOp: Double
  def prepare(): Unit
  /** Seconds of untimed ops before timing starts, until the JIT settles. */
  def warmupSeconds: Double
  /** One untimed op. */
  def warmupOp(i: Int): Unit
  def op(i: Int): Unit
  /** The last op's wall time split into phases, in ms, in the order they ran. */
  def phasesMs: Seq[Double]
  /** Failure messages; empty when every output is correct. */
  def check(): Seq[String]
  def checkCount: Int
}

object Workload {
  val names: Seq[String] = Seq("kernels", "delta", "queries")

  def apply(name: String, spark: SparkSession, args: Main.Args): Workload = name match {
    case "kernels" => new KernelsWorkload(spark, args.seed)
    case "delta"   => new DeltaWorkload(spark, args.seed, args.work.resolve("delta"))
    case "queries" => new QueriesWorkload(spark, args.seed, args.work.resolve("queries"),
      args.expected, args.record, args.corruptExpected)
    case other => throw new IllegalArgumentException(s"unknown workload $other (one of ${names.mkString(", ")})")
  }

  /** Seeded, order-free choice: rank keys by a seeded hash. */
  def seededRank(key: String, seed: Long): Int =
    scala.util.hashing.MurmurHash3.stringHash(key, (seed ^ (seed >>> 32)).toInt)
}

/** The per-page CPU path of a KG build, single thread, no Spark in the timed
  * region: payload extraction, JSON parse, normalize, textify, Aho-Corasick
  * mentions, embedding and triple extraction over seeded pages.
  */
final class KernelsWorkload(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val name = "kernels"
  val unitName = "pages"
  private val universe = 2000L
  private val itemPages = 1000

  val kernels: Seq[String] = Seq("extract_payload", "parse", "normalize", "textify", "mentions", "embed", "triples")
  /** Accumulated ns per kernel while `traced`; the timed chain pays one
    * branch per kernel call when untraced.
    */
  val kernelNs = new Array[Long](kernels.size)
  var traced = false
  /** Pages processed while `traced`: the denominator of `kernelNs`. */
  var tracedPages = 0L

  private var pages: Array[(String, Array[Byte], String)] = Array.empty
  private var labelsDf: DataFrame = _
  private var labels: Map[(String, String), String] = Map.empty
  private var enLabels: Map[String, String] = Map.empty
  private var trie: AhoCorasick = _
  /** Every kernel's result feeds this, so none can be optimised away. */
  private var sink = 0L
  private val texts = scala.collection.mutable.HashMap.empty[String, String]
  private val triples = scala.collection.mutable.HashMap.empty[String, Seq[Triple]]

  def unitsPerOp: Double = pages.length

  def prepare(): Unit = {
    val all = PagesGen.pages(spark, universe, 4).select("url", "html", "lang")
      .as[(String, Array[Byte], String)].collect()
    val (props, items) = all.partition(p => PagesGen.properties.exists(pp => p._1 == PagesGen.urlOf(pp._1)))
    val chosen = items.sortBy(p => Workload.seededRank(p._1, seed)).take(itemPages) ++ props
    pages = new scala.util.Random(seed).shuffle(chosen.toSeq).toArray
    Option(labelsDf).foreach(_.unpersist())
    labelsDf = TextifyStage.harvestLabels(spark, payloadsDs).cache()
    val rows = labelsDf.as[(String, String, String, Boolean, Seq[String])].collect()
    labels = rows.map(r => (r._1, r._2) -> r._3).toMap
    enLabels = rows.filter(_._2 == "en").map(r => r._1 -> r._3).toMap
    // the pipeline's mention dictionary: en surfaces (label + aliases) of items
    val dict = rows.filter(r => r._2 == "en" && !r._4)
      .flatMap(r => (r._3 +: r._5).filter(_.nonEmpty).map(_ -> r._1))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSeq.sorted }
    trie = AhoCorasick.build(dict)
  }

  private def payloadsDs = TextifyStage.payloads(spark, pages.toSeq.toDF("url", "html", "lang"))

  @inline private def timed[A](k: Int)(f: => A): A =
    if (!traced) f
    else {
      val t0 = System.nanoTime()
      val r = f
      kernelNs(k) += System.nanoTime() - t0
      r
    }

  private def process(url: String, html: Array[Byte], lang: String, keep: Boolean): Unit = {
    val payload = timed(0)(PagesGen.extractPayload(html))
      .getOrElse(throw new IllegalStateException(s"no payload in $url"))
    val item = timed(1)(WikidataJson.parseLine(payload))
      .getOrElse(throw new IllegalStateException(s"unparseable payload in $url"))
    val dl = LangVariant.dataLang(lang)
    val entity = timed(2)(WikidataJson.normalize(item, dl))
    val text = timed(3)(new Textifier(LangVariant(lang), id => labels.get((id, dl))).entityToText(entity))
    val mentions = timed(4)(trie.findMentions(text)).size
    val vec = timed(5)(Embedder.encode(text))
    val ts = timed(6)(Triples.fromItem(item, enLabels.get))
    sink += text.length + mentions + java.lang.Float.floatToIntBits(vec(0)) + ts.size
    if (keep) { texts(url) = text; triples(url) = ts }
    if (traced) tracedPages += 1
  }

  /** Pages per phase of a pass: ten phases of 6-8 ms each. */
  private val slicePages = 101
  private val laps = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def pass(keep: Boolean): Unit = {
    laps.clear()
    var t0 = System.nanoTime()
    pages.grouped(slicePages).foreach { slice =>
      slice.foreach { case (url, html, lang) => process(url, html, lang, keep) }
      val t1 = System.nanoTime()
      laps += (t1 - t0) / 1e6
      t0 = t1
    }
  }

  def phasesMs: Seq[Double] = laps.toSeq

  val warmupSeconds = 3.0
  def warmupOp(i: Int): Unit = pass(keep = false)

  def op(i: Int): Unit = pass(keep = i == 0)

  val checkCount = 2

  /** The `KgPipelineSpec` contract: texts byte-identical to the distributed
    * textify path and triples equal to the distributed triple extraction,
    * over the same pages and label dimension.
    */
  def check(): Seq[String] = {
    val rendered = TextifyStage.render(spark, payloadsDs, labelsDf)
      .select("url", "text").as[(String, String)].collect().toMap
    val textFailures = pages.count(p => !texts.get(p._1).contains(rendered.getOrElse(p._1, "<missing>")))
    val expected = Triples.fromLines(spark, payloadsDs.map(_.payload),
      labelsDf.filter(col("lang") === "en").select("id", "label")).as[Triple].collect().sortBy(_.uuid).toSeq
    val got = triples.values.flatten.toSeq.sortBy(_.uuid)
    Seq(
      Option.when(textFailures > 0 || texts.size != pages.length)(
        s"kernels: $textFailures of ${pages.length} texts differ from TextifyStage.render"),
      Option.when(got != expected)(
        s"kernels: ${got.size} pure triples vs ${expected.size} from Triples.fromLines")).flatten
  }
}

/** The storage layer of an incremental ingest: a pages MERGE table (the
  * pipeline's first write) takes seeded batches of re-crawled versions of
  * its own pages (`PagesGen.pagesDelta`, 100 pages each) in sequence, each
  * committed with a lineage capture and a stage marker, as every pipeline
  * stage does.
  */
final class DeltaWorkload(spark: SparkSession, seed: Long, root: Path) extends Workload {
  val name = "delta"
  val unitName = "pages"
  private val universe = 2000L
  private val basePages = 1000

  private var base: DataFrame = _
  private var changed: DataFrame = _
  private var nChanged = 0L
  private var table: MergeTable = _
  private var lineage: Lineage = _
  private var attempt = 0
  private var ingests = 0
  private val batchPages = 100L
  private var offset = 0L
  private val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  var lastBatch: DataFrame = _

  def tableRoot: Path = root.resolve(s"kg-$attempt")

  private def ranked(df: DataFrame): DataFrame =
    df.withColumn("_r", xxhash64(col("url"), lit(seed)))

  def unitsPerOp: Double = batchPages.toDouble

  def prepare(): Unit = {
    Main.deleteTree(root)
    attempt += 1
    Seq(base, changed).filter(_ != null).foreach(_.unpersist())
    // seeded subset of the corpus: every property page plus seeded items,
    // in a seeded row order
    val pages = PagesGen.pages(spark, universe, 4)
    val isProp = col("url").isin(PagesGen.properties.map(p => PagesGen.urlOf(p._1)): _*)
    val items = ranked(pages.filter(!isProp)).orderBy("_r").limit(basePages)
    base = items.unionByName(ranked(pages.filter(isProp))).orderBy(xxhash64(col("url"), lit(seed + 1)))
      .drop("_r").cache()
    base.count()
    // re-crawled versions of base pages, numbered in a seeded order; a batch
    // is a slice. Every merge is an update of 100 rows, so the table keeps
    // its size and each op does the same work.
    val w = org.apache.spark.sql.expressions.Window.orderBy("_r", "url")
    changed = ranked(PagesGen.pagesDelta(spark, universe, 4).join(base.select("url"), Seq("url"), "left_semi"))
      .withColumn("_slot", row_number().over(w) - 1).drop("_r").cache()
    nChanged = changed.count()
    table = new MergeTable(spark, tableRoot.resolve("pages").toString, Seq("url"))
    lineage = new Lineage(spark, tableRoot.toString)
    table.merge(base)
    merged.clear()
    offset = 0L
  }

  private def batch(from: Long, size: Long): DataFrame = {
    val to = from + size
    val slot = col("_slot")
    val in = if (to <= nChanged) slot >= from && slot < to
             else slot >= from || slot < to - nChanged
    changed.filter(in).drop("_slot")
  }

  /** Commit one batch the way a pipeline stage commits its output. */
  private def ingest(df: DataFrame, stage: String): Long =
    lineage.runStage(stage, table.currentSnapshot.getOrElse(0L)) {
      val t0 = System.nanoTime()
      val snap = table.merge(df)
      lineage.capture(stage, snap, df, (System.nanoTime() - t0) / 1000000)
      snap
    }

  val warmupSeconds = 20.0
  def warmupOp(i: Int): Unit = op(i)

  private val jobClock = new JobClock(spark)
  private var opMs = (0L, 0L)

  def op(i: Int): Unit = {
    val t0 = System.currentTimeMillis()
    lastBatch = batch(offset % nChanged, batchPages)
    ingests += 1
    ingest(lastBatch, s"delta_ingest_$ingests")
    merged += ((offset % nChanged, batchPages))
    offset += batchPages
    opMs = (t0, System.currentTimeMillis())
  }

  /** Split at the submission and the end of each Spark job of the op. */
  def phasesMs: Seq[Double] = jobClock.phasesMs(opMs._1, opMs._2)

  def storedBytesPerPage: Double =
    Main.files(tableRoot.resolve("pages")).toSeq.map(java.nio.file.Files.size).sum.toDouble / table.rowCount

  val checkCount = 2

  /** The table must equal the base with every merged page replaced by its
    * re-crawled version: same row count and same order-free digest.
    */
  def check(): Seq[String] = {
    val batches = merged.map { case (f, s) => batch(f, s) }
    val upserts = batches.reduce(_ unionByName _).dropDuplicates("url")
    val expected = base.join(upserts.select("url"), Seq("url"), "left_anti").unionByName(upserts)
    val got = table.read().select(expected.columns.map(col): _*)
    val (gotDigest, expDigest) = (Digest.of(got), Digest.of(expected))
    Seq(
      Option.when(table.rowCount != expDigest.rows)(
        s"delta: manifest rowCount ${table.rowCount} != expected ${expDigest.rows}"),
      Option.when(gotDigest != expDigest)(s"delta: table digest $gotDigest != expected $expDigest")).flatten
  }
}

/** A closed-loop pass over a fixed mix of `SparkEntry` queries, one family per
  * layer group, in a seeded order, clearing the cache before each query.
  */
final class QueriesWorkload(spark: SparkSession, seed: Long, dir: Path,
                            expectedFile: Option[Path], recordFile: Option[Path],
                            corruptExpected: Boolean) extends Workload {
  val name = "queries"
  val unitName = "queries"

  val mix: Seq[(String, String)] = Seq(
    "dd5_dedup_apply" -> "graph",
    "d18_dup_spans" -> "text",
    "kg9_stats" -> "kgfront",
    "q7_window_topk" -> "relational",
    "q21_range_join" -> "relational")
  val families: Seq[String] = Seq("graph", "text", "kgfront", "relational")

  private val order: Seq[String] = new scala.util.Random(seed).shuffle(mix.map(_._1))
  private val expected: Map[String, Digest] = expectedFile.map(Digest.readExpected).getOrElse(Map.empty)
    .map { case (q, d) => q -> (if (corruptExpected && q == order.head) d.copy(xor = d.xor ^ 1L) else d) }
  private val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
  private var executed = 0
  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, Digest]
  /** Wraps each query execution; the traced run opens a query span here. */
  var around: (String, () => Digest) => Digest = (_, f) => f()

  def unitsPerOp: Double = mix.size

  def prepare(): Unit = {
    Main.deleteTree(dir)
    QueryData.write(spark, dir.toString)
  }

  private val laps = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def runQuery(q: String): Digest = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val d = around(q, () => Digest.of(SparkEntry.queries(q)(spark, dir.toString)))
    laps += (System.nanoTime() - t0) / 1e6
    d
  }

  /** One phase per query. */
  def phasesMs: Seq[Double] = laps.toSeq

  val warmupSeconds = 0.0
  def warmupOp(i: Int): Unit = order.foreach(runQuery)

  def op(i: Int): Unit = { laps.clear(); order.foreach(runAndCompare) }

  private def runAndCompare(q: String): Unit = {
    val d = runQuery(q)
    executed += 1
    recorded(q) = d
    expected.get(q) match {
      case Some(e) if e == d =>
      case Some(e) => mismatches += s"queries: $q digest $d != expected $e"
      case None if recordFile.isEmpty => mismatches += s"queries: no expected digest for $q"
      case None =>
    }
  }

  /** Every query execution is one digest check. */
  def checkCount: Int = executed

  /** Digest mismatches are found inside `op`; each one is a failed check. */
  override def check(): Seq[String] = {
    recordFile.foreach(Digest.writeExpected(_, recorded.toMap))
    mismatches.toSeq
  }
}
