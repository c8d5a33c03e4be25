package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.checkpoint.{SnapshotTable, StageRunner}

/** The checkpointed end-to-end build: the [[Stages]] sequence with every
  * stage committed to an Iceberg-shaped snapshot table, so a killed run
  * resumes without recomputing committed stages — the Spark re-expression
  * of the reference's per-stage streaming flush + incremental update
  * (ast/src/builder/streaming.rs:95-130;
  * ast/src/lang/graphs/graph_ops.rs:95-274). Each stage commits under
  * `baseDir/<stage>` in one Spark job, its snapshot write, whose manifest
  * also carries the stage's per-partition lineage ([[StageRunner]]).
  *
  * Downstream stages consume the committed READ-BACK of upstream stages
  * (StageRunner.run returns the on-disk table), so resume consumes exactly
  * the bytes a previous run committed — byte-identical outputs either way
  * (asserted by ResumeSpec). A resume that finds mentions/resolution
  * snapshots on disk performs ZERO extraction and ZERO resolution work;
  * ResumeSpec counts extractor invocations to prove it; one over another
  * corpus fails ([[inputIdentity]]).
  */
object CheckpointedBuild {

  final case class Result(nodes: DataFrame, edges: DataFrame, runner: StageRunner)

  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      baseDir: String,
      runId: String
  ): Result = {
    val r = new StageRunner(spark, baseDir, runId, inputIdentity(transcripts))
    val g = Stages.run(spark, transcripts, r)
    Result(g.nodes, g.edges, r)
  }

  /** The corpus's identity: sha256 over the sorted (path, length, mtime) of
    * its input files, from the Hadoop file status (no Spark job). A corpus
    * with no input files (an in-memory frame) hashes the empty list.
    */
  def inputIdentity(transcripts: DataFrame): String = {
    val conf = transcripts.sparkSession.sparkContext.hadoopConfiguration
    val files = transcripts.inputFiles.sorted.map { f =>
      val st = new Path(f).getFileSystem(conf).getFileStatus(new Path(f))
      s"$f\t${st.getLen}\t${st.getModificationTime}\n"
    }
    MessageDigest.getInstance("SHA-256").digest(files.mkString.getBytes(UTF_8)).map(b => f"$b%02x").mkString
  }

  /** True iff every stage of a prior run committed (nothing left to do). */
  def complete(baseDir: String): Boolean =
    Stages.All.forall(s => SnapshotTable.committed(s"$baseDir/${s.name}", s.name).isDefined)
}
