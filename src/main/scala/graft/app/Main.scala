package graft.app

import org.apache.spark.sql.SparkSession
import graft.pipeline.{CheckpointedBuild, Stages}
import graft.sources.Transcripts
import graft.util.Session

/** spark-submit entrypoint for the full KG-construction job:
  *
  *   spark-submit --class graft.app.Main <jar> <sfDir> <outDir> [runId]
  *
  * Reads the transcript corpus and runs the build's one stage sequence
  * (`graft.pipeline.Stages`, the same one `GraphBuild.build` runs in memory)
  * through [[CheckpointedBuild]], which commits every stage as a snapshot
  * whose manifest carries its lineage. Leaves the seven stage tables, among
  * them the materialized node/edge tables, under <outDir>. Re-running with
  * the same <outDir> and corpus resumes: committed stages are read back, not
  * recomputed (the reference's update_incremental semantics,
  * graph_ops.rs:95-274); another corpus fails the run. The closing node and
  * edge totals come from the manifests' lineage counts, so cost no job.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_out"
    val runId = if (args.length > 2) args(2) else "run-1"
    val spark = Session.start(builder)
    val res = run(spark, sfDir, outDir, runId)
    val nNodes = res.runner.rowsCommitted(Stages.Nodes)
    val nEdges = res.runner.rowsCommitted(Stages.Edges)
    println(s"[graft] build complete: $nNodes nodes, $nEdges edges -> $outDir")
    spark.stop()
  }

  /** Main's session: every [[Session]] conf; the master from spark-submit,
    * else `local[N]`. The UI is the deployment's to set.
    */
  private[graft] def builder: SparkSession.Builder = {
    val b = Session.builder("graft-kg-build")
    if (masterSet) b else b.master(s"local[${Session.cpus}]")
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

  private def masterSet: Boolean =
    sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER")
}
