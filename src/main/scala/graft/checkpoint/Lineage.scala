package graft.checkpoint

import java.sql.Timestamp
import java.util.UUID
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col
import graft.functions.KeyCounts
import graft.pipeline.Stages
import graft.schema.LineageRow

/** Per-stage / per-partition lineage + metrics — re-expression of the
  * reference's per-stage flush watermarks and timing logs
  * (ast/src/builder/streaming.rs:95-130, builder/utils.rs:235-243). A stage
  * [[StageRunner]] commits publishes its lineage as the summary of its own
  * snapshot: run id, stage, wall time, commit time, corpus identity and one
  * row count per partition_key. Data and lineage become visible in one
  * manifest, so a run killed at any point leaves both or neither.
  */
object Lineage {

  /** Commit one stage's lineage rows to a lineage table of their own, as
    * one snapshot. The committed build does not call this: its lineage is
    * in the stage manifests ([[read]]).
    */
  def append(
      spark: SparkSession,
      lineageTable: String,
      runId: String,
      stage: String,
      counts: Seq[(String, Long)],
      wallMs: Long
  ): Unit = {
    import spark.implicits._
    val now = new Timestamp(System.currentTimeMillis())
    val rows = counts.map { case (pk, n) => LineageRow(runId, stage, pk, n, wallMs, now) }
    SnapshotTable.commit(rows.toDF(), lineageTable, s"lineage-$stage")
  }

  /** The lineage of the build under `baseDir`: one [[LineageRow]] per
    * partition key of every snapshot summary of every [[Stages.All]] table.
    * Built on the driver from the manifests; no Spark job runs.
    */
  def read(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    val rows = for {
      st <- Stages.All
      table = s"$baseDir/${st.name}"
      s <- SnapshotTable.snapshotIds(table).flatMap(SnapshotTable.manifest(table, _).summary)
      c <- s.get("counts").properties().asScala
    } yield LineageRow(s.get("run_id").asText, s.get("stage").asText, c.getKey, c.getValue.asLong,
      s.get("wall_ms").asLong, new Timestamp(s.get("committed_at").asLong))
    rows.toDF()
  }
}

/** Runs named stages with checkpoint-or-skip semantics — the reference's
  * update_incremental (ast/src/lang/graphs/graph_ops.rs:95-274): a killed
  * run resumes without recomputing committed stages.
  *
  * A stage this runner computes costs one Spark job, its snapshot write:
  * the lineage counts are observed inside that write, and the committed
  * table is read back with the written frame's schema, so no inference job
  * runs. Every summary records `input`, the corpus identity
  * ([[graft.pipeline.CheckpointedBuild.inputIdentity]]); a committed stage
  * that records another (or none) fails the run instead of being read back.
  */
final class StageRunner(spark: SparkSession, baseDir: String, runId: String, input: String)
    extends Stages.Sink {

  private def tableDir(stage: Stages.Stage) = s"$baseDir/${stage.name}"

  /** If `stage` has a committed snapshot of this corpus, read and return it
    * (NO recomputation); otherwise compute, commit with the rows counted per
    * value of the stage's `partitionCol`, and return the committed
    * read-back (so downstream consumes exactly what's on disk).
    */
  def run(stage: Stages.Stage)(compute: => DataFrame): DataFrame = {
    val table = tableDir(stage)
    SnapshotTable.committed(table, stage.name) match {
      case Some(m) =>
        val recorded = m.summary.flatMap(s => Option(s.get("input"))).fold("not recorded")(_.asText)
        if (recorded != input) throw new IllegalStateException(
          s"$table was committed from another corpus (input $recorded, this run's is $input); build into a fresh dir")
        SnapshotTable.read(spark, table).get
      case None =>
        val t0 = System.nanoTime()
        val df = compute
        // one name per commit attempt: Spark keys an observation by its name
        // and the observed frame, so two runners committing one frame at
        // once on a session would share a key and one would never be told
        val obs = Observation(s"lineage_${stage.name}_${UUID.randomUUID()}")
        SnapshotTable.commit(df.observe(obs, KeyCounts.of(col(stage.partitionCol))), table, stage.name, summary = {
          // delivered by the listener bus once the write's query has
          // finished; bounded, so a lost event fails the run instead of
          // hanging it
          val counts = Await.result(obs.future, 5.minutes).getMap[String, Long](0).toSeq.sortBy(_._1)
          val s = SnapshotTable.Json.createObjectNode().put("run_id", runId).put("stage", stage.name)
            .put("input", input).put("wall_ms", (System.nanoTime() - t0) / 1000000)
            .put("committed_at", System.currentTimeMillis())
          val c = s.putObject("counts")
          counts.foreach { case (pk, n) => c.put(pk, n) }
          Some(s)
        })
        SnapshotTable.read(spark, table, Some(df.schema)).get
    }
  }

  /** Rows committed to `stage`, from the lineage counts in its manifest —
    * for a stage this runner computed and for one a resume read back alike.
    */
  def rowsCommitted(stage: Stages.Stage): Long =
    SnapshotTable.committed(tableDir(stage), stage.name).flatMap(_.summary)
      .map(_.get("counts").elements().asScala.map(_.asLong).sum)
      .getOrElse(sys.error(s"${tableDir(stage)} has no committed lineage"))
}
