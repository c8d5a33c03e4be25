package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotTable
import graft.extract.Mentions
import graft.util.Ckpt._

/** Incremental rebuild — the Spark re-expression of the reference's one
  * `update_incremental` (ast/src/lang/graphs/graph_ops.rs:95-274): find the
  * conversations that changed since a committed run, re-extract only those,
  * and re-run the build's stage sequence from its mentions stage
  * ([[Stages.fromMentions]]) over the committed mentions of the unchanged
  * conversations plus the fresh delta. Output equals `GraphBuild.build` over
  * the current corpus.
  *
  * Two change detectors serve the two corpus formats; both return one
  * [[Plan]], and one [[rebuild]] turns any plan into a graph:
  *
  *  - [[plan]] diffs per-conversation content fingerprints ([[fingerprints]])
  *    against the committed fingerprint table — for raw parquet corpora,
  *    which is what `graft.app.Main` reads. The previous corpus is never
  *    re-scanned: [[build]] does not even accept it (ResumeSpec deletes its
  *    files before building). The reference diffs git revisions the same
  *    way: stored hashes vs the new tree (ast/src/repo.rs get_changed_files).
  *  - [[planFromSnapshots]] diffs SnapshotTable manifests — for corpora that
  *    are themselves snapshot tables. Data dirs are immutable, so planning
  *    reads only the ADDED dirs and never fingerprints anything (Iceberg's
  *    snapshot-diff incremental read).
  *
  * Extraction runs on the changed conversations only; the later stages
  * (resolution, the node/edge step) re-read the whole current corpus.
  */
object Incremental {

  /** Per-conversation content fingerprint: md5 over the turn-ordered
    * per-turn hashes. The per-turn hash is md5(to_json(struct(...))) — an
    * UNAMBIGUOUS encoding (a plain struct->string cast renders NULL tool and
    * the literal string 'null' identically, so distinct contents could
    * collide and silently skip re-extraction). Per-turn hashing is
    * scan-local; only (conv_id, 32-char hash) rows shuffle — never text.
    */
  def fingerprints(t: DataFrame): DataFrame =
    t.withColumn(
      "turn_hash",
      md5(to_json(struct(col("turn_idx"), col("role"), col("text"), col("tool"), col("ts")))
        .cast("binary"))
    )
      .groupBy("conv_id")
      .agg(
        md5(
          array_join(
            transform(
              array_sort(collect_list(struct(col("turn_idx"), col("turn_hash")))),
              x => x.getField("turn_hash")
            ),
            ""
          ).cast("binary")
        ).as("fp")
      )

  /** What changed since the committed run, as conv_id columns: `changed` =
    * conversations to re-extract (new or modified); `removed` = committed
    * conversations gone from the current corpus (their mentions drop).
    */
  final case class Plan(changed: DataFrame, removed: DataFrame)

  /** Fingerprint change detection against COMMITTED state: conversations
    * whose new fingerprint is absent from or differs against the committed
    * fingerprint table changed; committed conversations missing from the
    * new fingerprints are removed.
    */
  def plan(committedFps: DataFrame, newT: DataFrame): Plan = {
    // one dimension-sized materialization: conv ids + hashes, read by both
    // the change diff and the removal diff
    val newFps = fingerprints(newT).lcp()
    val changed = newFps
      .join(committedFps.withColumnRenamed("fp", "old_fp"), Seq("conv_id"), "left")
      .where(col("old_fp").isNull || col("fp") =!= col("old_fp"))
      .select("conv_id")
    val removed = committedFps.select("conv_id").join(newFps, Seq("conv_id"), "left_anti")
    Plan(changed, removed)
  }

  /** The one incremental rebuild: the committed mentions of conversations
    * the plan leaves untouched, plus [[Mentions.extract]] over the changed
    * conversations of `newT` (the whole current corpus), enter the stage
    * sequence at its mentions stage.
    */
  def rebuild(
      spark: SparkSession,
      newT: DataFrame,
      committedMentions: DataFrame,
      plan: Plan
  ): GraphBuild.Graph = {
    val changed = plan.changed.lcp()
    val unchangedMentions = committedMentions
      .join(changed, Seq("conv_id"), "left_anti")
      .join(plan.removed, Seq("conv_id"), "left_anti")
    val deltaT = newT.join(broadcast(changed), Seq("conv_id"), "left_semi")
    Stages.fromMentions(spark, newT, unchangedMentions.unionByName(Mentions.extract(deltaT)))
  }

  /** Fingerprint incremental over the new corpus, from the committed
    * fingerprints and mentions (oracle-checked by kg_incremental).
    */
  def build(
      spark: SparkSession,
      committedFps: DataFrame,
      committedMentions: DataFrame,
      newT: DataFrame
  ): GraphBuild.Graph =
    rebuild(spark, newT, committedMentions, plan(committedFps, newT))

  private def stored(spark: SparkSession, baseDir: String, name: String): DataFrame =
    SnapshotTable
      .read(spark, s"$baseDir/$name")
      .getOrElse(sys.error(s"no committed $name table under $baseDir"))

  /** Commit the incremental inputs of a completed run over a raw corpus: the
    * mention table and the conversation fingerprints, via the snapshot
    * protocol. A later [[buildFromStore]] resumes from exactly these bytes.
    */
  def commitState(spark: SparkSession, baseDir: String, t: DataFrame, mentions: DataFrame): Unit = {
    SnapshotTable.commit(mentions, s"$baseDir/mentions_store", "mentions")
    SnapshotTable.commit(fingerprints(t), s"$baseDir/conv_fps", "conv_fps")
  }

  /** Fingerprint incremental against the store [[commitState]] wrote. */
  def buildFromStore(spark: SparkSession, baseDir: String, newT: DataFrame): GraphBuild.Graph =
    build(spark, stored(spark, baseDir, "conv_fps"), stored(spark, baseDir, "mentions_store"), newT)

  private def readDir = regexp_extract(input_file_name(), "(data/[^/]+)/", 1)

  /** Commit the incremental state of a completed run over a SnapshotTable
    * corpus: the mention table, whose manifest summary records the corpus
    * snapshot the run read, and a (conv_id, data_dir) lineage index. The
    * index is a cheap projection of the corpus the run already read.
    */
  def commitStateSnapshot(
      spark: SparkSession,
      baseDir: String,
      corpusTable: String,
      mentions: DataFrame
  ): Unit = {
    val snapId = SnapshotTable
      .latestSnapshotId(corpusTable)
      .getOrElse(sys.error(s"$corpusTable has no committed snapshot"))
    val t = SnapshotTable.read(spark, corpusTable).get
    SnapshotTable.commit(mentions, s"$baseDir/mentions_store", "mentions",
      summary = Some(SnapshotTable.Json.createObjectNode().put("corpus_snapshot", snapId)))
    val convDirs = t.select(col("conv_id"), readDir.as("data_dir")).distinct()
    SnapshotTable.commit(convDirs, s"$baseDir/conv_dirs", "conv_dirs")
  }

  /** Manifest-diff change detection. Reads: two corpus manifests (the one
    * the store was committed against and the latest), the tiny conv_dirs
    * dimension and the ADDED data dirs only — never the unchanged corpus
    * partitions (SnapshotIncrementalSpec proves it by deleting their bytes
    * before planning).
    *
    *  - added dirs' conversations: changed (new or modified content);
    *  - conversations touching a REMOVED dir but still present elsewhere:
    *    changed (part of their data was rewritten/compacted away);
    *  - conversations touching a removed dir and present nowhere: removed.
    */
  def planFromSnapshots(spark: SparkSession, baseDir: String, corpusTable: String): Plan = {
    import spark.implicits._
    val store = s"$baseDir/mentions_store"
    val oldId = SnapshotTable.latestSnapshotId(store).flatMap(SnapshotTable.manifest(store, _).summary)
      .fold(sys.error(s"$store records no corpus snapshot"))(_.get("corpus_snapshot").asInt)
    val oldDirs = SnapshotTable.readManifest(corpusTable, oldId)
    val newId = SnapshotTable
      .latestSnapshotId(corpusTable)
      .getOrElse(sys.error(s"$corpusTable has no committed snapshot"))
    val newDirs = SnapshotTable.readManifest(corpusTable, newId)
    val added = newDirs.filterNot(oldDirs.contains)
    val removed = oldDirs.filterNot(newDirs.contains)
    val convDirs = stored(spark, baseDir, "conv_dirs")
    val addedConvs =
      if (added.isEmpty) spark.emptyDataset[String].toDF("conv_id")
      else
        spark.read
          .parquet(added.map(d => s"$corpusTable/$d"): _*)
          .select("conv_id")
          .distinct()
    val removedDf = broadcast(removed.toDF("data_dir"))
    val touched = convDirs.join(removedDf, Seq("data_dir"), "left_semi")
      .select("conv_id").distinct()
    val surviving = convDirs.join(removedDf, Seq("data_dir"), "left_anti")
      .select("conv_id")
    val present = surviving.unionByName(addedConvs)
    val changed = addedConvs
      .unionByName(touched.join(surviving, Seq("conv_id"), "left_semi"))
      .distinct()
    Plan(changed, touched.join(present, Seq("conv_id"), "left_anti"))
  }

  /** Manifest-diff incremental against the store [[commitStateSnapshot]]
    * wrote (oracle-checked by kg_incremental_snapshot).
    */
  def buildFromSnapshotStore(
      spark: SparkSession,
      baseDir: String,
      corpusTable: String
  ): GraphBuild.Graph = {
    val p = planFromSnapshots(spark, baseDir, corpusTable)
    rebuild(spark, SnapshotTable.read(spark, corpusTable).get,
      stored(spark, baseDir, "mentions_store"), p)
  }
}
