package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.extract.Mentions

/** Streaming KG ingest — the Structured Streaming twin of the batch build's
  * extraction front end. The reference re-batches on a git revision
  * (ast/src/lang/graphs/graph_ops.rs:95 update_incremental); a transcript
  * corpus at 100 TB instead ARRIVES continuously, and the natural Spark
  * shape is: corpus table as a file stream → the per-turn mention extractor
  * (the batch build's own `Mentions.extract`, a stateless per-partition
  * pass — streaming-safe by construction) → an exactly-once parquet sink.
  *
  * Scale/resume properties this buys for free from Structured Streaming:
  *  - each micro-batch extracts ONLY its new files (delta-only work, the
  *    streaming analog of H1 incremental extraction);
  *  - the file-source + file-sink pair is exactly-once under the query
  *    checkpoint: a killed and restarted query neither re-extracts nor
  *    duplicates committed batches (StreamingSpec proves both);
  *  - the accumulated mention table enters the batch build's stage
  *    sequence at its mentions stage ([[graft.pipeline.Stages.fromMentions]]),
  *    so the materialized graph is byte-identical to the batch build over
  *    the same corpus (the st_graph_ingest oracle is the kg_graph_size
  *    oracle).
  */
object GraphStream {

  /** Run the streaming extractor over `corpusDir` (a parquet directory of
    * six-column transcript rows) until every available file is processed,
    * appending mention rows exactly-once to `sinkDir`. Re-running with the
    * same `ckptDir` processes only files added since the last drain.
    *
    * `maxFilesPerTrigger` bounds per-batch work (the production back-
    * pressure knob); Trigger.AvailableNow drains the backlog in those
    * increments and stops — restartable batch over a stream source.
    */
  def extractAvailable(
      spark: SparkSession,
      corpusDir: String,
      sinkDir: String,
      ckptDir: String,
      maxFilesPerTrigger: Int = 1
  ): Unit = {
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(corpusDir)
    val mentions = Mentions.extract(stream)
    val q = mentions.writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The accumulated mention store (empty-safe: a never-fired sink dir has
    * no files — return an empty mention-shaped frame).
    */
  def mentionStore(spark: SparkSession, sinkDir: String): DataFrame = {
    val dir = new java.io.File(sinkDir)
    val hasData = dir.isDirectory &&
      dir.listFiles().exists(f => f.getName.endsWith(".parquet"))
    if (hasData) spark.read.parquet(sinkDir)
    else
      Mentions.extract(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            Seq(
              org.apache.spark.sql.types.StructField("conv_id",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("turn_idx",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("role",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("tool",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("ts",
                org.apache.spark.sql.types.TimestampType)
            )
          )
        )
      )
  }
}
