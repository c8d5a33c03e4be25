package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.Mentions
import graft.link.PathNorm
import graft.resolve.CallResolver
import graft.util.Ckpt._

/** The build's stage sequence, written once — the analog of the reference's
  * single staged `build_graph` (ast/src/builder/core.rs:48-235), which its
  * incremental update re-runs over the changed files
  * (graph_ops.rs:95-274):
  *
  *   transcripts -> mentions -> resolved_calls, resolved_entities, api_links
  *               -> nodes, edges
  *
  * Every caller runs this sequence; they differ only in the [[Sink]] each
  * stage's output goes through:
  *
  *  - [[CheckpointedBuild]] (the production job, `graft.app.Main`) commits
  *    each stage through `StageRunner` — one snapshot write, whose
  *    manifest carries the stage's lineage, then a read-back that runs no
  *    job — so a resumed run reads committed stages instead of computing them;
  *  - [[GraphBuild.build]] keeps every stage in memory ([[InMemory]]);
  *  - [[GraphBuild.buildFromStages]] serves already-committed upstream
  *    tables back to the sequence.
  *
  * The incremental rebuild and streaming ingest maintain the mention table
  * themselves and enter at the mentions stage ([[fromMentions]]).
  */
object Stages {

  /** One stage of the sequence: the table it commits and the column its
    * lineage rows count by. That column is bounded (a role, type, strategy
    * or verb): the stage's manifest carries one count per value. Stages are
    * declared only below, so [[All]] is the complete list the sequence can
    * reach.
    */
  final class Stage private[Stages] (val name: String, val partitionCol: String)

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Stage]
  private def stage(name: String, partitionCol: String): Stage = {
    val s = new Stage(name, partitionCol)
    declared += s
    s
  }

  val Transcripts: Stage = stage("transcripts", "role")
  val MentionTable: Stage = stage("mentions", "mention_type")
  val ResolvedCalls: Stage = stage("resolved_calls", "strategy")
  val ResolvedEntities: Stage = stage("resolved_entities", "strategy")
  val ApiLinks: Stage = stage("api_links", "verb")
  val Nodes: Stage = stage("nodes", "node_type")
  val Edges: Stage = stage("edges", "edge_type")

  /** Every stage, in the order [[run]] reaches them. */
  val All: Seq[Stage] = declared.toList

  /** Where a stage's output goes. Returns the frame later stages read;
    * `compute` is by-name so a sink that already holds the stage (a resumed
    * run) never builds its plan.
    */
  trait Sink {
    def run(stage: Stage)(compute: => DataFrame): DataFrame
  }

  /** Keeps every stage in this process: later stages read the stage's plan
    * itself, truncated only by the local checkpoints the sequence takes for
    * every sink (corpus, mentions and the node/edge stage's shared
    * subtrees).
    */
  object InMemory extends Sink {
    def run(stage: Stage)(compute: => DataFrame): DataFrame = compute
  }

  /** The full sequence over a transcript corpus. */
  def run(spark: SparkSession, transcripts: DataFrame, sink: Sink): GraphBuild.Graph =
    sequence(spark, transcripts, sink, Mentions.extract)

  /** The sequence over a mention table the caller maintains — the one
    * incremental rebuild ([[Incremental.rebuild]]: committed mentions of
    * unchanged conversations plus a delta-only extraction) and streaming
    * ingest. The reference likewise re-parses only changed files, then
    * re-links the whole graph (graph_ops.rs:95-274). `transcripts` is the
    * whole current corpus: every later stage reads it as a full build does.
    */
  def fromMentions(
      spark: SparkSession,
      transcripts: DataFrame,
      mentions: DataFrame
  ): GraphBuild.Graph =
    sequence(spark, transcripts, InMemory, _ => mentions)

  private def sequence(
      spark: SparkSession,
      transcripts: DataFrame,
      sink: Sink,
      mentionsOf: DataFrame => DataFrame
  ): GraphBuild.Graph = {
    // Spread the corpus across shuffle.partitions tasks keyed by conv_id
    // before anything reads it: the raw input is often few/small parquet
    // files (one scan task), which would serialize the extraction pass and
    // every map-side stage hanging off it. At 100 TB the input table is
    // already bucketed by conv_id and this is a no-op repartition.
    // The checkpoint is LAZY: the first job that runs extraction over it
    // materializes both together.
    val t = sink.run(Transcripts)(transcripts).repartition(col("conv_id")).lcp(eager = false)
    // localCheckpoint (not cache) on the two hot tables: ~15 downstream
    // branches hang off t/mentions, and with full lineage each branch
    // carries the whole scan->extract plan through analysis + AQE
    // re-planning. Truncating to RDD leaves makes every branch plan
    // O(branch), not O(pipeline).
    val mentions = sink.run(MentionTable)(mentionsOf(t)).lcp()
    // Text-free twin of the corpus checkpoint: resolution and ~6 dimension/
    // edge branches need only (conv_id, turn_idx, role, tool), but an
    // RDD-leaf scan always deserializes whole rows — through the narrow twin
    // they move ~10% of the bytes.
    val tMeta = t.select("conv_id", "turn_idx", "role", "tool").lcp(eager = false)
    def ofType(mt: String) = mentions.where(col("mention_type") === mt)
    val calls = sink.run(ResolvedCalls)(
      CallResolver.resolveCalls(ofType("FunctionCall"), ofType("FunctionDef"), tMeta))
    val entities = sink.run(ResolvedEntities)(CallResolver.resolveEntities(spark, ofType("Entity")))
    val links = sink.run(ApiLinks)(PathNorm.linkApi(ofType("Request"), ofType("Endpoint")))
    // lazy: a run whose node and edge tables are already committed plans neither
    lazy val g = GraphBuild.materialize(spark, t, tMeta, mentions, calls, entities, links)
    GraphBuild.Graph(sink.run(Nodes)(g.nodes), sink.run(Edges)(g.edges), mentions)
  }
}
