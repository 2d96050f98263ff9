package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a result: row count plus the wrapping sum and
  * the xor of per-row 64-bit hashes. Doubles are hashed at float precision,
  * so the last-bit noise of a floating-point sum whose addition order follows
  * task completion cannot flip a digest.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  override def toString: String = s"[$rows, $sum, $xor]"
}

object Digest {

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case MapType(k, v, _) =>
      normalized(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** One aggregation job over the frame: the whole result is computed. */
  def of(df: DataFrame): Digest = {
    val h = xxhash64(df.schema.fields.toSeq.map(f => normalized(df.col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `{"query": [rows, sum, xor], ...}` */
  def readExpected(p: Path): Map[String, Digest] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
    val it = node.fields()
    val out = Map.newBuilder[String, Digest]
    while (it.hasNext) {
      val e = it.next()
      val a = e.getValue
      out += e.getKey -> Digest(a.get(0).asLong(), a.get(1).asLong(), a.get(2).asLong())
    }
    out.result()
  }

  def writeExpected(p: Path, digests: Map[String, Digest]): Unit =
    Files.writeString(p, digests.toSeq.sortBy(_._1)
      .map { case (q, d) => s"""  "$q": $d""" }.mkString("{\n", ",\n", "\n}\n"))
}
