package graft.checkpoint

import java.sql.Timestamp
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions.col
import graft.functions.KeyCounts
import graft.schema.LineageRow

/** Per-stage / per-partition lineage + metrics, and the resume logic built
  * on it — re-expression of the reference's incremental-update semantics
  * (ast/src/lang/graphs/graph_ops.rs:95-274 update_incremental; per-stage
  * timing logs builder/utils.rs:235-243).
  *
  * Each completed stage writes its output via [[SnapshotTable.commit]]; its
  * LineageRows (one per partition_key: row count, wall time, commit time)
  * are counted inside that write and committed to the `_lineage` table once
  * per run ([[StageRunner.flush]]). On restart, [[StageRunner.run]] skips
  * stages whose commit exists — a killed run resumes without recomputing
  * committed work; changed-input reprocessing is an overwrite of the
  * affected stage dirs (new snapshot).
  */
object Lineage {

  private val Schema = Encoders.product[LineageRow].schema

  /** One LineageRow per partition key of `stage`, stamped now. */
  def rows(runId: String, stage: String, counts: Seq[(String, Long)], wallMs: Long): Seq[LineageRow] = {
    val now = new Timestamp(System.currentTimeMillis())
    counts.map { case (pk, n) => LineageRow(runId, stage, pk, n, wallMs, now) }
  }

  /** Commit `rows` to the lineage table as one snapshot. */
  def commit(spark: SparkSession, lineageTable: String, rows: Seq[LineageRow], name: String): Unit = {
    import spark.implicits._
    SnapshotTable.commit(rows.toDF(), lineageTable, name)
  }

  /** Commit one stage's lineage rows on their own. */
  def append(
      spark: SparkSession,
      lineageTable: String,
      runId: String,
      stage: String,
      counts: Seq[(String, Long)],
      wallMs: Long
  ): Unit = commit(spark, lineageTable, rows(runId, stage, counts, wallMs), s"lineage-$stage")

  /** The lineage table, read with the [[LineageRow]] schema (no inference job). */
  def read(spark: SparkSession, lineageTable: String): DataFrame =
    SnapshotTable
      .read(spark, lineageTable, Schema)
      .getOrElse(spark.emptyDataset(Encoders.product[LineageRow]).toDF())
}

/** Runs named stages with checkpoint-or-skip semantics.
  *
  * A stage this runner computes costs one Spark job, its snapshot write:
  * the lineage counts are observed inside that write, and the committed
  * table is read back with the written frame's schema, so no inference job
  * runs. The stage's lineage rows wait in memory until [[flush]] commits
  * all of them at once, which [[graft.pipeline.CheckpointedBuild.run]]
  * does in a `finally`. A run that throws therefore still records every
  * stage it committed; a run killed outright (SIGKILL, lost driver) loses
  * its lineage rows, while its committed stage data stay and a resume reads
  * them back.
  */
final class StageRunner(spark: SparkSession, baseDir: String, runId: String) {

  private def tableDir(stage: String) = s"$baseDir/$stage"
  def lineageDir: String = s"$baseDir/_lineage"

  private val pending = scala.collection.mutable.ArrayBuffer.empty[LineageRow]
  private val committedRows = scala.collection.mutable.Map.empty[String, Long]

  /** If `stage` has a committed snapshot, read and return it (NO
    * recomputation); otherwise compute, commit (counting the rows per
    * `partitionCol` value on the way), buffer the lineage rows and return
    * the committed read-back (so downstream consumes exactly what's on disk).
    */
  def run(stage: String, partitionCol: String)(compute: => DataFrame): DataFrame = {
    val table = tableDir(stage)
    if (SnapshotTable.stageCommitted(table, stage)) {
      SnapshotTable.read(spark, table).get
    } else {
      val t0 = System.nanoTime()
      val df = compute
      val obs = Observation(s"lineage_$stage")
      SnapshotTable.commit(df.observe(obs, KeyCounts.of(col(partitionCol))), table, stage)
      // delivered by the listener bus once the write's query has finished;
      // bounded, so a lost event fails the run instead of hanging it
      val counts = Await.result(obs.future, 5.minutes)
        .getMap[String, Long](0).toSeq.sortBy(_._1)
      pending ++= Lineage.rows(runId, stage, counts, (System.nanoTime() - t0) / 1000000)
      committedRows(stage) = counts.map(_._2).sum
      SnapshotTable.read(spark, table, df.schema).get
    }
  }

  /** Rows this runner committed to `stage`, from its lineage counts; None
    * for a stage it did not compute (one a resume read back).
    */
  def rowsCommitted(stage: String): Option[Long] = committedRows.get(stage)

  /** Commit the buffered lineage rows to `_lineage` as one snapshot. */
  def flush(): Unit =
    if (pending.nonEmpty) {
      Lineage.commit(spark, lineageDir, pending.toSeq, "lineage")
      pending.clear()
    }
}
