package graft.operators

import graft.tables.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Backward (latest-at-or-before) as-of join — the temporal lookup Spark
  * has no built-in operator for, composed from existing ops instead of a
  * custom physical plan: tag both inputs, union them, and run ONE window
  * pass per key ordered by (time, tag) carrying the last non-null right
  * payload forward. Right rows sort before left rows at equal timestamps,
  * which is exactly inclusive at-or-before semantics.
  *
  * Scale shape: a single shuffle (the window's partition-by on the key) and
  * a within-partition sort — no row explosion ever, unlike the
  * range-inequality theta join Catalyst would otherwise plan (broadcast
  * BNLJ or cartesian), and no per-key collect. Payloads ride as one struct
  * column each, so the sort moves each row once regardless of column count.
  * A key whose history AND probe stream are both huge lands in one
  * partition — `timeSplits > 1` is the hot-key mitigation: each key's
  * timeline is cut into that many equal time ranges, the window partitions
  * by (key, range), and each range's carry-in (the last right payload of
  * any EARLIER range) rides a bounded per-key boundary frame of ≤
  * timeSplits rows — so the hot key's sort spreads over timeSplits
  * partitions while every result stays bit-identical to the single-window
  * form (spec-pinned on a 90%-one-key fixture, plan-pinned to partition by
  * both columns).
  *
  * Contract: right rows must be unique per (key, time) — pre-reduce ties
  * upstream (the q20 query keeps the max-orderkey row per day) or the
  * carried payload would depend on shuffle order. Returns every left row
  * (left-join semantics) with the matched right payload's fields, null when
  * no right row is at-or-before. Column sets must be disjoint.
  */
object AsOfJoin {

  def asOfBackward(left: DataFrame, right: DataFrame,
                   leftKey: Column, rightKey: Column,
                   leftTime: Column, rightTime: Column,
                   timeSplits: Int = 1): DataFrame = {
    require(timeSplits >= 1, s"timeSplits must be >= 1, got $timeSplits")
    val leftCols = left.columns
    val rightCols = right.columns
    require(leftCols.toSet.intersect(rightCols.toSet).isEmpty,
      s"as-of join needs disjoint column names, both sides have: " +
        leftCols.toSet.intersect(rightCols.toSet).mkString(", "))

    // payloads nested one struct per side; the absent side is a TYPED null
    // struct so the union needs no coercion
    val lType = left.select(struct(leftCols.map(col): _*)).schema.head.dataType
    val rType = right.select(struct(rightCols.map(col): _*)).schema.head.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // SQL join semantics: a null key or time matches NOTHING, on either
    // side. Null-key/time LEFT rows bypass the union/window entirely and
    // are appended with a null payload at the end: routed through the
    // window they would ALL hash to the single `_k = null` partition — a
    // one-task straggler when e.g. 10% of an event stream is anonymous.
    val lNull = left.filter(leftKey.isNull || leftTime.isNull)
    val l = left.filter(leftKey.isNotNull && leftTime.isNotNull).select(
      leftKey.as("_k"), leftTime.cast("timestamp").as("_t"), lit(1).as("_tag"),
      struct(leftCols.map(col): _*).as("_l"), lit(null).cast(rType).as("_r"))
    val r = right
      .filter(rightKey.isNotNull && rightTime.isNotNull)
      .select(
        rightKey.as("_k"), rightTime.cast("timestamp").as("_t"), lit(0).as("_tag"),
        lit(null).cast(lType).as("_l"), struct(rightCols.map(col): _*).as("_r"))
    val u = l.unionByName(r)

    val matched =
      if (timeSplits == 1) {
        val w = Window.partitionBy("_k").orderBy(col("_t"), col("_tag"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("_m", last(col("_r"), ignoreNulls = true).over(w))
          .filter(col("_tag") === 1)
      } else {
        // `u` feeds the stats aggregate, the split frame (twice: boundary
        // aggregate + final window join) — hold it for the call or the
        // upstream left/right pipelines re-execute up to 3× on exactly the
        // huge-input path this mode exists for (the split mode trades the
        // single path's full laziness for bounded recompute, like the
        // dedup ops)
        Checkpoints.superstep(u.sparkSession, None) { s =>
          s.materialize(splitMatched(s.hold(u), timeSplits))
        }
      }
    val matchedOut = matched.select(
      leftCols.map(c => col(s"_l.$c").as(c)) ++
        rightCols.map(c => col(s"_m.$c").as(c)): _*)
    val bypass = lNull.select(
      leftCols.map(col) ++
        rType.fields.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    matchedOut.unionByName(bypass)
  }

  /** The hot-key pre-split matching plan over a (pre-persisted) tagged
    * union `u(_k, _t, _tag, _l, _r)` — the lazy seam the plan-shape spec
    * inspects (the entry's eager checkpoint hides it): cut each key's
    * [min_t, max_t] into `timeSplits` equal half-open ranges and window per
    * (key, range) with boundary carry-over.
    */
  private[operators] def splitMatched(u: DataFrame, timeSplits: Int): DataFrame = {
    val stats = u.groupBy("_k").agg(
      min(unix_micros(col("_t"))).as("_lo"),
      max(unix_micros(col("_t"))).as("_hi"))
    // exact BIGINT `div` arithmetic: width >= 1 and the index is
    // monotone in _t, so ranges tile the timeline in time order (an
    // earlier range's rows are strictly earlier than a later range's)
    val withS = u.join(stats, Seq("_k"))
      .withColumn("_s",
        least(expr(s"(unix_micros(_t) - _lo) div ((_hi - _lo) div $timeSplits + 1)"),
          lit(timeSplits - 1L)).cast("long"))
      .drop("_lo", "_hi")
    // boundary carry-over: the last right payload of each (key, range) —
    // right rows are unique per (key, time) by contract, so max_by is
    // deterministic — then, per key, the payload carried INTO range s =
    // last non-null boundary payload over ranges < s. The grid frame is
    // ≤ timeSplits rows per key (built from the stats frame, never the
    // data), so this window is bounded no matter how hot the key is.
    val lastPerRange = withS.filter(col("_tag") === 0)
      .groupBy("_k", "_s").agg(max_by(col("_r"), col("_t")).as("_lr"))
    val grid = stats.select(col("_k"),
        explode(sequence(lit(0L), lit(timeSplits - 1L))).as("_s"))
      .join(lastPerRange, Seq("_k", "_s"), "left")
    val wCarry = Window.partitionBy("_k").orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = grid
      .withColumn("_carry", last(col("_lr"), ignoreNulls = true).over(wCarry))
      .select(col("_k"), col("_s"), col("_carry"))
    // per-(key, range) window — the hot key now spans timeSplits
    // partitions; rows with no right match inside their own range fall
    // back to the carried boundary payload
    val w = Window.partitionBy("_k", "_s").orderBy(col("_t"), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withS.join(carries, Seq("_k", "_s"))
      .withColumn("_m",
        coalesce(last(col("_r"), ignoreNulls = true).over(w), col("_carry")))
      .filter(col("_tag") === 1)
  }

  /** q20: each user event joined to the user's latest at-or-before order.
    * Orders are pre-reduced to one row per (custkey, day) — max orderkey
    * wins, its totalprice carried via max_by — so the as-of contract's
    * uniqueness holds and the DuckDB `ASOF LEFT JOIN` oracle replays the
    * same deterministic choice.
    */
  def q20AsOf(spark: SparkSession, dir: String): DataFrame = {
    val events = Relational.table(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type")
    val orders = Relational.table(spark, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"),
        expr("max_by(o_totalprice, o_orderkey)").as("o_totalprice"))
    asOfBackward(events, orders,
      leftKey = col("user_id"), rightKey = col("o_custkey"),
      leftTime = col("ts"), rightTime = col("o_orderdate"))
      .select("event_id", "ts", "user_id", "event_type",
        "o_orderkey", "o_orderdate", "o_totalprice")
  }
}
