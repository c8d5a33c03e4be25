package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Sessions

/** Structured Streaming twins must agree with their batch counterparts on
  * the same (fully-delivered, in-order) input.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = spark.read.parquet(s"$sf0001/events.parquet").cache()

  /** The parquet ts is TIMESTAMP_NTZ; the tuple-encoded stream side carries
    * TIMESTAMP. Compare on epoch micros (session tz = UTC) so the two
    * representations can't produce cosmetic mismatches.
    */
  private def microsify(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, unix_micros(col(c).cast("timestamp"))))

  test("streaming windowed counts == batch windowed counts") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val rows = events
      .select("event_id", "ts", "event_type", "value")
      .as[(Long, Timestamp, String, Double)]
      .collect()
    mem.addData(rows.toIndexedSeq)
    val streamDf = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Sessions
      .windowedCountsStream(streamDf)
      .writeStream
      .format("memory")
      .queryName("wc_stream")
      .outputMode("complete")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("wc_stream")
    val batch = Sessions.windowedCounts(events)
    assertSameRows(
      microsify(streamed, Seq("window_start")),
      microsify(batch, Seq("window_start"))
    )
  }

  test("flatMapGroupsWithState sessionization == batch lag-window sessionization") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val rows = events
      .select("event_id", "ts", "user_id")
      .as[(Long, Timestamp, Long)]
      .collect()
      // deliver in-order per the batch twin's ordering contract
      .sortBy(r => (r._2.getTime, r._1))
    mem.addData(rows.toIndexedSeq)
    val streamDf = mem.toDF().toDF("event_id", "ts", "user_id")
    val q = Sessions
      .sessionizeStream(spark, streamDf)
      .writeStream
      .format("memory")
      .queryName("sess_stream")
      .outputMode("append")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // append-mode emits only CLOSED sessions; the still-open last session per
    // user stays in state -> compare against batch minus each user's last one
    val streamed = spark.table("sess_stream")
    val batch = Sessions.sessionize(events)
    val lastPerUser = batch.groupBy("user_id").agg(max("session_idx").as("session_idx"))
    val batchClosed = batch.join(lastPerUser, Seq("user_id", "session_idx"), "left_anti")
    val tcols = Seq("session_start", "session_end")
    assertSameRows(microsify(streamed, tcols), microsify(batchClosed, tcols))
  }

  test("streaming KG ingest: exactly-once mention store across restarts + delta-only catch-up") {
    import graft.extract.Mentions
    import graft.streaming.GraphStream
    val base = tempDir("graft-stream-spec")
    val corpus = s"$base/corpus"
    val sink = s"$base/mentions"
    val ckpt = s"$base/ckpt"
    val t = graft.sources.Transcripts.fromEvents(spark, sf0001)
    val cut = col("ts") < lit("2024-01-08").cast("timestamp")
    t.where(cut).repartition(3).write.parquet(corpus)

    // drain 1: three files, one per micro-batch
    GraphStream.extractAvailable(spark, corpus, sink, ckpt)
    val afterFirst = spark.read.parquet(sink).count()
    assert(afterFirst > 0)

    // restart with NOTHING new: the checkpoint must prevent any re-extraction
    // (exactly-once sink — row count unchanged, no duplicate batches)
    GraphStream.extractAvailable(spark, corpus, sink, ckpt)
    assert(spark.read.parquet(sink).count() == afterFirst)

    // late-arriving delta: only the new files' mentions append
    t.where(!cut).repartition(2).write.mode("append").parquet(corpus)
    GraphStream.extractAvailable(spark, corpus, sink, ckpt)
    val store = GraphStream.mentionStore(spark, sink)
    // accumulated store == one-shot batch extraction over the full corpus
    assertSameRows(store, Mentions.extract(spark.read.parquet(corpus)))
  }

  test("batch sessionization: gaps split sessions exactly at the threshold") {
    def ts(m: Long) = new Timestamp(m * 60000L)
    val ev = Seq(
      (1L, ts(0), 7L), (2L, ts(10), 7L), (3L, ts(41), 7L), // 31-min gap -> split
      (4L, ts(70), 7L), (5L, ts(100), 7L),                 // exactly 30 -> no split
      (6L, ts(0), 8L)
    ).toDF("event_id", "ts", "user_id")
    val out = Sessions.sessionize(ev)
      .select("user_id", "session_idx", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((7L, 1L, 2L), (7L, 2L, 3L), (8L, 1L, 1L)))
  }
}
