package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Stream-shaped operators over the `events` table. The reference is batch +
  * incremental re-batch (graph_ops.rs:95), but a transcript corpus at scale
  * arrives as a stream; these give the engine its Structured Streaming
  * surface:
  *
  *  - [[windowedCounts]]: tumbling-window aggregation, one definition for
  *    a batch and a streaming source (the batch result is oracle-checked;
  *    the streaming result over the same rows is asserted equal in
  *    StreamingSpec via a memory stream + processAllAvailable).
  *  - [[sessionize]]: 30-min-gap sessionization — batch twin uses a lag
  *    window; the streaming twin uses flatMapGroupsWithState.
  */
object Sessions {

  /** Tumbling 1-hour windows per event_type: count + value cents (integer
    * cents avoid cross-engine float-sum drift in the oracle). The 2-hour
    * watermark bounds a stream's state; a batch plan drops it (Catalyst's
    * `EliminateEventTimeWatermark`).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents")
      )

  /** Batch sessionization: per user, a new session starts when the gap from
    * the previous event exceeds `gapMinutes`. Output: one row per session.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_session",
        // micro-precision gap (unix_timestamp truncates to seconds and would
        // disagree with the micro-precision streaming twin on razor-edge gaps)
        when(
          col("prev_ts").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > gapMinutes * 60000000L,
          1L
        ).otherwise(0L)
      )
      .withColumn("session_idx", sum("new_session").over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end")
      )
  }

  // ------------------------------------------------------------------
  // Structured Streaming stateful sessionization
  // ------------------------------------------------------------------

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long)
  final case class SessionState(startTs: Long, lastTs: Long, n: Long, idx: Long)
  final case class SessionOut(
      user_id: Long,
      session_idx: Long,
      n_events: Long,
      session_start: Timestamp,
      session_end: Timestamp
  )

  /** java.sql.Timestamp <-> epoch micros (Timestamp.getTime is millis and
    * would silently truncate the parquet micro-precision timestamps).
    */
  private def tsMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** flatMapGroupsWithState sessionizer (KeyValueGroupedDataset custom
    * state). Used by StreamingSpec; semantics match [[sessionize]] when the
    * input arrives in order.
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val ds = events.select("event_id", "ts", "user_id").as[Ev]
    val out = ds
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (user: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
        val gapUs = gapMinutes * 60000000L
        val sorted = evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
        var sessions = state.getOption.getOrElse(Nil)
        var closed = List.empty[SessionOut]
        sorted.foreach { e =>
          val t = tsMicros(e.ts)
          sessions match {
            case cur :: rest if t - cur.lastTs <= gapUs =>
              sessions = cur.copy(lastTs = t, n = cur.n + 1) :: rest
            case cur :: rest =>
              closed = SessionOut(user, cur.idx, cur.n, microsTs(cur.startTs),
                microsTs(cur.lastTs)) :: closed
              sessions = SessionState(t, t, 1, cur.idx + 1) :: rest
            case Nil =>
              sessions = SessionState(t, t, 1, 1) :: Nil
          }
        }
        state.update(sessions)
        closed.reverseIterator
      }
    out.toDF()
  }
}
