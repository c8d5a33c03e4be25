package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest publication strategy — the one filesystem primitive the snapshot
  * protocol needs: make manifest `name` visible in `dir` atomically, exactly
  * once. Everything else in [[SnapshotTable]] is plain immutable-file I/O
  * that any object store supports.
  *
  *  - Local/HDFS: stage to a temp file, ATOMIC_MOVE rename
  *    ([[AtomicRenameCommitter]]).
  *  - Object stores (S3 et al.) have NO atomic rename — renames are
  *    copy+delete and not atomic. The correct primitive there is
  *    conditional PUT: `PutObject` with `If-None-Match: *` on the FINAL
  *    manifest key; exactly one concurrent writer receives 200, the rest
  *    get 412 and retry with snapshot N+1. [[PutIfAbsentCommitter]]
  *    implements those semantics over the local FS (CREATE_NEW is the same
  *    fail-if-exists contract), so the protocol is exercised end-to-end in
  *    tests and swapping in a real S3 client changes only this object.
  */
trait ManifestCommitter {

  /** Publish `bytes` as `dir/name`; false iff another writer won the key. */
  def publish(dir: Path, name: String, bytes: Array[Byte]): Boolean
}

object AtomicRenameCommitter extends ManifestCommitter {
  def publish(dir: Path, name: String, bytes: Array[Byte]): Boolean = {
    val tmp = dir.resolve(s"$name.tmp")
    Files.write(tmp, bytes)
    try {
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => Files.deleteIfExists(tmp); false
    }
  }
}

object PutIfAbsentCommitter extends ManifestCommitter {
  def publish(dir: Path, name: String, bytes: Array[Byte]): Boolean =
    try {
      // CREATE_NEW == conditional PUT (If-None-Match: *): atomic fail-if-exists
      Files.write(dir.resolve(name), bytes, java.nio.file.StandardOpenOption.CREATE_NEW)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    }
}

/** Iceberg-shaped table layer: partitioned parquet + an atomic snapshot
  * manifest protocol. No Iceberg runtime ships in /opt/spark/jars
  * (SURVEY.md §7.5 item 1), so the semantics the north rule needs — atomic
  * commit, snapshot pinning, resume — live in this small commit protocol:
  *
  *   table/
  *     data/<stage>-<n>[.<format>]/...        (immutable data files)
  *     _snapshot-N.json    (committed file-list; writers commit through a
  *                          [[ManifestCommitter]] — readers pin latest)
  *
  * Matches the reference's per-stage delta flush + MERGE upload semantics
  * (ast/src/builder/streaming.rs:95-130; neo4j MERGE nodes.rs:48-56):
  * a stage's output becomes visible only when its manifest lands.
  *
  * Data format is per-data-dir, encoded in the dir name suffix (default
  * parquet; `.json` = JSONL for the A5 export sink, utils.rs:17-51).
  */
object SnapshotTable {

  /** Process-wide committer; tests swap in [[PutIfAbsentCommitter]] to prove
    * the object-store variant end-to-end.
    */
  @volatile var committer: ManifestCommitter = AtomicRenameCommitter

  private def snapDir(table: String): Path = Paths.get(table)

  def latestSnapshotId(table: String): Option[Int] = {
    val dir = snapDir(table)
    if (!Files.exists(dir)) None
    else {
      val ids = Files
        .list(dir)
        .iterator()
        .asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("_snapshot-") && s.endsWith(".json") =>
          s.stripPrefix("_snapshot-").stripSuffix(".json").toInt
        }
        .toSeq
      if (ids.isEmpty) None else Some(ids.max)
    }
  }

  /** Commit `df` as a new named data dir + snapshot N+1. The data write is
    * to a location invisible to readers; the snapshot manifest is published
    * atomically through the [[committer]] — a killed writer leaves no
    * partial snapshot, and a lost publication race retries with N+1
    * (resume idempotence suite asserts this).
    */
  def commit(df: DataFrame, table: String, stage: String, format: String = "parquet"): Int = {
    val next = latestSnapshotId(table).getOrElse(0) + 1
    val suffix = if (format == "parquet") "" else s".$format"
    // Per-writer nonce in the dir name: two concurrent writers committing
    // the same stage compute the same `next`, and mode("overwrite") on a
    // SHARED dir would let the loser of the manifest race clobber the
    // winner's parquet files before retrying. A collision-free dir keeps
    // data writes strictly private; the manifest stays the only visibility
    // point. Every attempt draws a new nonce, so nothing reclaims a killed
    // attempt's data dir: it stays on disk, invisible (no manifest names
    // it). Deleting such dirs needs a liveness rule, because a concurrent
    // writer's in-flight dir has no manifest yet either (ROADMAP).
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"data/$stage-$next-$nonce$suffix"
    df.write.mode("overwrite").format(format).save(s"$table/$dataDir")
    Files.createDirectories(snapDir(table))
    var id = math.max(next, latestSnapshotId(table).getOrElse(0) + 1)
    var done = false
    while (!done) {
      val priorFiles = latestSnapshotId(table)
        .map(p => readManifest(table, p))
        .getOrElse(Seq.empty)
      val manifest = (priorFiles :+ dataDir).distinct // append-style lineage
      val json = manifest.map(f => "\"" + f + "\"").mkString("[", ",", "]")
      val bytes =
        s"""{"snapshot":$id,"files":$json}""".getBytes(StandardCharsets.UTF_8)
      if (committer.publish(snapDir(table), s"_snapshot-$id.json", bytes)) done = true
      else id += 1 // another writer won this snapshot id: rebase and retry
    }
    id
  }

  /** Publish a snapshot with an EXPLICIT data-dir list and no data write —
    * the replace/compaction primitive: dropping a data dir from the table
    * (delete, rewrite, retention) is metadata-only, exactly as in Iceberg.
    * Dirs are immutable once written, so any dir present in two manifests is
    * byte-identical between them — the property the metadata-diff
    * incremental planner ([[graft.pipeline.Incremental.planFromSnapshots]])
    * relies on.
    */
  def commitFiles(table: String, files: Seq[String]): Int = {
    Files.createDirectories(snapDir(table))
    var id = latestSnapshotId(table).getOrElse(0) + 1
    var done = false
    while (!done) {
      val json = files.map(f => "\"" + f + "\"").mkString("[", ",", "]")
      val bytes =
        s"""{"snapshot":$id,"files":$json}""".getBytes(StandardCharsets.UTF_8)
      if (committer.publish(snapDir(table), s"_snapshot-$id.json", bytes)) done = true
      else id += 1
    }
    id
  }

  def readManifest(table: String, id: Int): Seq[String] = {
    val txt = new String(
      Files.readAllBytes(snapDir(table).resolve(s"_snapshot-$id.json")),
      StandardCharsets.UTF_8
    )
    "\"(data/[^\"]+)\"".r.findAllMatchIn(txt).map(_.group(1)).toSeq
  }

  private def formatOf(dataDir: String): String = {
    val name = dataDir.stripPrefix("data/")
    val dot = name.lastIndexOf('.')
    if (dot < 0) "parquet" else name.substring(dot + 1)
  }

  /** Read the latest committed snapshot (union of its data dirs, grouped by
    * their formats).
    */
  def read(spark: SparkSession, table: String): Option[DataFrame] =
    latestSnapshotId(table).map { id =>
      readManifest(table, id)
        .groupBy(formatOf)
        .map { case (fmt, dirs) =>
          spark.read.format(fmt).load(dirs.map(d => s"$table/$d"): _*)
        }
        .reduce(_ unionByName _)
    }

  /** Has `stage` already committed into this table? (resume check) */
  def stageCommitted(table: String, stage: String): Boolean =
    latestSnapshotId(table).exists(id =>
      readManifest(table, id).exists(_.startsWith(s"data/$stage-"))
    )
}
