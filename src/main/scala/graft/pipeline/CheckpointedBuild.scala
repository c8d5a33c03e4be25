package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.checkpoint.{SnapshotTable, StageRunner}

/** The checkpointed end-to-end build: the [[Stages]] sequence with every
  * stage committed to an Iceberg-shaped snapshot table, so a killed run
  * resumes without recomputing committed stages — the Spark re-expression
  * of the reference's per-stage streaming flush + incremental update
  * (ast/src/builder/streaming.rs:95-130;
  * ast/src/lang/graphs/graph_ops.rs:95-274). Each stage commits under
  * `baseDir/<stage>` in one Spark job, its snapshot write, which also counts
  * the stage's per-partition lineage rows ([[StageRunner]]); the run commits
  * all of its lineage rows to `baseDir/_lineage` once, as it ends.
  *
  * Downstream stages consume the committed READ-BACK of upstream stages
  * (StageRunner.run returns the on-disk table), so resume consumes exactly
  * the bytes a previous run committed — byte-identical outputs either way
  * (asserted by ResumeSpec). A resume that finds mentions/resolution
  * snapshots on disk performs ZERO extraction and ZERO resolution work;
  * ResumeSpec counts extractor invocations to prove it.
  */
object CheckpointedBuild {

  final case class Result(nodes: DataFrame, edges: DataFrame, runner: StageRunner)

  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      baseDir: String,
      runId: String
  ): Result = {
    val r = new StageRunner(spark, baseDir, runId)
    val validate = sys.env.getOrElse("SPARK_GRAFT_VALIDATE", "0") == "1"
    // one `_lineage` commit per run, also for a run that throws
    try {
      val g = Stages.run(spark, transcripts, new Stages.Sink {
        def apply(stage: Stages.Stage)(compute: => DataFrame): DataFrame =
          r.run(stage.name, stage.partitionCol) {
            val df = compute
            // debug-mode invariant guard, before the node table commits:
            // branches emit key-unique rows by construction; duplicated input
            // rows would silently break MERGE (A6)
            if (validate && stage == Stages.Nodes) GraphBuild.validateKeyUniqueness(df)
            df
          }
      })
      Result(g.nodes, g.edges, r)
    } finally r.flush()
  }

  /** True iff every stage of a prior run committed (nothing left to do). */
  def complete(baseDir: String): Boolean =
    Stages.All.forall(s => SnapshotTable.stageCommitted(s"$baseDir/${s.name}", s.name))
}
