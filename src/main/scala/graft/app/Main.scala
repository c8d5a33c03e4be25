package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{CheckpointedBuild, Stages}
import graft.sources.Transcripts

/** spark-submit entrypoint for the full KG-construction job:
  *
  *   spark-submit --class graft.app.Main <jar> <sfDir> <outDir> [runId]
  *
  * Reads the transcript corpus and runs the build's one stage sequence
  * (`graft.pipeline.Stages`, the same one `GraphBuild.build` runs in memory)
  * through [[CheckpointedBuild]], which commits every stage as a snapshot
  * with per-partition lineage rows. Leaves the seven stage tables, among
  * them the materialized node/edge tables, plus the `_lineage` metrics table
  * under <outDir>. Re-running with the same <outDir> resumes: committed
  * stages are read back, not recomputed (the reference's update_incremental
  * semantics, graph_ops.rs:95-274). The closing node and edge totals come
  * from the lineage counts of the writes, so they cost no job.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_out"
    val runId = if (args.length > 2) args(2) else "run-1"
    val builder = SparkSession.builder().appName("graft-kg-build")
    // local default for the sandbox; spark-submit --master overrides
    val spark = (if (spark_master_set) builder else builder.master("local[32]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = run(spark, sfDir, outDir, runId)
    // the lineage counts of the write; a stage this run resumed is counted
    def rows(stage: Stages.Stage, table: DataFrame) =
      res.runner.rowsCommitted(stage.name).getOrElse(table.count())
    val nNodes = rows(Stages.Nodes, res.nodes)
    val nEdges = rows(Stages.Edges, res.edges)
    println(s"[graft] build complete: $nNodes nodes, $nEdges edges -> $outDir")
    spark.stop()
  }

  /** The job itself, on a given session: read the corpus under `sfDir` and
    * run (or resume) the committed build into `outDir`.
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      runId: String
  ): CheckpointedBuild.Result =
    CheckpointedBuild.run(spark, Transcripts.fromEvents(spark, sfDir), outDir, runId)

  private def spark_master_set: Boolean =
    sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER")
}
