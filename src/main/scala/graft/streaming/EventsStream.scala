package graft.streaming

import graft.operators.RangeJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Batch operators over the events table, the st1–st3 queries:
  *  - [[sessionize]]: gap-based sessions per user (30-minute gap), folded
  *    with `flatMapGroupsWithState` over the complete input, so every
  *    session emits, the trailing open one included;
  *  - [[withRetransmissions]]: the at-least-once delivery model, a
  *    deterministic 10 % sample of events delivered twice;
  *  - [[dedupEvents]]: the exactly-once projection of that delivery,
  *    duplicates collapsed on `event_id`;
  *  - [[attribution]]: every (purchase, prior view) pair of one user within
  *    30 minutes, as a bucketed interval join.
  *
  * The DuckDB oracle covers each through its query (st1_sessionize,
  * st2_stream_dedup, st3_attribution).
  */
object EventsStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Int, sumValue: Double)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
                           n_events: Int, sum_value: Double)

  /** Gap-based sessionization (the st1 query): each user's events, sorted
    * by time, split wherever consecutive events lie more than `gapMs` apart.
    * Every session emits, the trailing one included: the input is complete.
    */
  def sessionize(spark: SparkSession, events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import spark.implicits._
    val ds = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId: Long, it: Iterator[Event], state: GroupState[List[SessionState]]) =>
          state.update(Nil)
          gapSplit(userId, it.toSeq.sortBy(_.ts.getTime), gapMs).iterator
      }.toDF()
  }

  /** Fold one user's time-sorted events into sessions. */
  private def gapSplit(userId: Long, evs: Seq[Event], gapMs: Long): Seq[Session] = {
    val sessions = scala.collection.mutable.ArrayBuffer.empty[Session]
    var cur: SessionState = null
    def close(): Unit = sessions += Session(userId, cur.start, cur.lastSeen, cur.nEvents, cur.sumValue)
    evs.foreach { e =>
      val t = e.ts.getTime
      if (cur == null) cur = SessionState(t, t, 1, e.value)
      else if (t - cur.lastSeen > gapMs) {
        close()
        cur = SessionState(t, t, 1, e.value)
      } else cur = cur.copy(lastSeen = t, nEvents = cur.nEvents + 1,
        sumValue = cur.sumValue + e.value)
    }
    if (cur != null) close()
    sessions.toSeq
  }

  /** Deterministic at-least-once retransmission model: a 10% md5-derived
    * sample of events is re-delivered VERBATIM (exact duplicate rows, as a
    * retry produces). md5-derived so the DuckDB oracle selects the same
    * sample; verbatim so dedup's pick-any-representative is deterministic
    * set-wise.
    */
  def withRetransmissions(events: DataFrame): DataFrame =
    events.unionByName(events.filter(
      conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") / lit(4294967296.0) < 0.1))

  /** Exactly-once projection of an at-least-once delivery (the st2 query):
    * duplicates collapse on the delivery key. Output uses
    * epoch millis so the oracle compare is timestamp-encoding-free.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    withRetransmissions(events)
      .dropDuplicates("event_id")
      .select(col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
        col("user_id"), col("event_type"), col("value"))

  /** st3: purchase attribution — every (purchase, prior view) pair of the
    * same user with `purchase_ts − 30 min ≤ view_ts < purchase_ts`,
    * composed from the bucketed interval join, so a hot user's years of
    * events rendezvous per 1-hour bucket instead of forming pairs
    * quadratically inside one join group (the RangeJoin scaladoc's
    * hazard). Output in epoch millis, encoding-free for the oracle compare.
    */
  def attribution(events: DataFrame): DataFrame = {
    val e = events.withColumn("ts", col("ts").cast("timestamp"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"),
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("w_start"))
    RangeJoin.bucketedIntervalJoin(
      points = views, intervals = purchases,
      pointTime = col("view_ts"), start = col("w_start"), end = col("purchase_ts"),
      pointKey = col("v_user"), intervalKey = col("user_id"),
      bucketUs = 3600L * 1000000L)
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        unix_millis(col("purchase_ts")).as("purchase_ms"),
        unix_millis(col("view_ts")).as("view_ms"))
  }
}
