package graft.checkpoint

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.LineageRow

/** Per-stage / per-partition lineage + metrics, and the resume logic built
  * on it — re-expression of the reference's incremental-update semantics
  * (ast/src/lang/graphs/graph_ops.rs:95-274 update_incremental; per-stage
  * timing logs builder/utils.rs:235-243).
  *
  * Each completed stage writes: its output via [[SnapshotTable.commit]] and
  * one LineageRow per partition_key (row counts, wall time, commit time).
  * On restart, [[StageRunner.run]] skips stages whose commit exists — a
  * killed run resumes without recomputing committed work; changed-input
  * reprocessing is an overwrite of the affected stage dirs (new snapshot).
  */
object Lineage {

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

  def read(spark: SparkSession, lineageTable: String): DataFrame =
    SnapshotTable
      .read(spark, lineageTable)
      .getOrElse(spark.emptyDataset[LineageRow](org.apache.spark.sql.Encoders.product).toDF())
}

/** Runs named stages with checkpoint-or-skip semantics. */
final class StageRunner(spark: SparkSession, baseDir: String, runId: String) {

  private def tableDir(stage: String) = s"$baseDir/$stage"
  def lineageDir: String = s"$baseDir/_lineage"

  /** If `stage` has a committed snapshot, read and return it (NO
    * recomputation); otherwise compute, commit, record lineage, return the
    * committed read-back (so downstream consumes exactly what's on disk).
    */
  def run(stage: String, partitionCol: String)(compute: => DataFrame): DataFrame = {
    val table = tableDir(stage)
    if (SnapshotTable.stageCommitted(table, stage)) {
      SnapshotTable.read(spark, table).get
    } else {
      val t0 = System.nanoTime()
      val df = compute
      SnapshotTable.commit(df, table, stage)
      val committed = SnapshotTable.read(spark, table).get
      val counts = committed
        .groupBy(col(partitionCol).cast("string").as("pk"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (Option(r.getString(0)).getOrElse("null"), r.getLong(1)))
        .toSeq
      Lineage.append(spark, lineageDir, runId, stage, counts, (System.nanoTime() - t0) / 1000000)
      committed
    }
  }
}
