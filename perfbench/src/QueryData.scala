package graftbench

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession

/** Writes the tables the query mix reads (`documents`, `events`, `lineitem`,
  * in the schema of the TPC-H-style test tables) under `dir`. The data seed is fixed, so
  * the expected result digests hold for every benchmark seed; the seed varies
  * the order of the mix instead.
  *
  * Documents plant the structure the text and dedup queries look for: shared
  * spans copied between documents, and near-duplicate documents.
  */
object QueryData {
  private val dataSeed = 42L
  val nDocs = 600
  val nEvents = 6000
  val nLineitems = 20000

  private val vocab = Vector("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window", "order", "data",
    "column", "join", "small", "big", "customer", "query", "filter", "group", "stream", "vector",
    "graph", "edge", "node", "rank", "label", "entity", "page", "crawl", "token", "shard")

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(dataSeed)

    val docs = new Array[Vector[String]](nDocs)
    for (i <- 0 until nDocs) {
      val base = Vector.fill(40 + r.nextInt(120))(vocab(r.nextInt(vocab.size)))
      docs(i) =
        if (i > 0 && i % 11 == 0) docs(i - 1).updated(r.nextInt(docs(i - 1).size), "edited")
        else if (i > 0 && i % 7 == 0) {
          val src = docs(r.nextInt(i))
          val from = r.nextInt(math.max(1, src.size - 25))
          base.take(10) ++ src.slice(from, from + 25) ++ base.drop(10)
        } else base
    }
    docs.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong, text, if (i % 9 == 4) "de" else "en", s"src${i % 7}", text.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val types = Vector("view", "click", "purchase", "error")
    var ts = 1704067200000L
    (0 until nEvents).map { i =>
      ts += 1000L * (1 + r.nextInt(300))
      (i.toLong, new Timestamp(ts), r.nextInt(100).toLong, types(r.nextInt(types.size)),
        r.nextInt(2000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    val flags = Vector("A", "N", "R")
    (0 until nLineitems).map { i =>
      val qty = 1 + r.nextInt(50)
      (1L + i / 4, 1L + r.nextInt(2000), 1L + r.nextInt(100), 1 + i % 4, qty.toDouble,
        qty * (900 + r.nextInt(100000)) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F",
        new Timestamp(1704067200000L + 86400000L * r.nextInt(700)))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
  }
}
