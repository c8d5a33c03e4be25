package graft.checkpoint

import java.nio.file.{Files, Path, Paths}
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Manifest publication strategy — the one filesystem primitive the snapshot
  * protocol needs: make manifest `name` visible in `dir` atomically, exactly
  * once. Everything else in [[SnapshotTable]] is plain immutable-file I/O
  * that any object store supports.
  *
  *  - Local/HDFS: stage to a private temp file, then hard-link it to the
  *    final name ([[AtomicLinkCommitter]]).
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

/** A rename (`ATOMIC_MOVE`) would not do: POSIX rename silently replaces an
  * existing target, so the loser of a race would overwrite the winner's
  * manifest. `link` publishes the fully written temp file atomically and
  * fails if the name exists.
  */
object AtomicLinkCommitter extends ManifestCommitter {
  def publish(dir: Path, name: String, bytes: Array[Byte]): Boolean = {
    val tmp = dir.resolve(s"$name.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    try {
      Files.createLink(dir.resolve(name), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
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
  *     _snapshot-N.json    ({"snapshot":N,"files":[...],"summary":{...}}:
  *                          the committed file list and an optional writer
  *                          summary; writers commit through a
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
  @volatile var committer: ManifestCommitter = AtomicLinkCommitter

  val Json = new ObjectMapper()

  /** A published snapshot: its data dirs and its writer's summary, if any. */
  final case class Manifest(files: Seq[String], summary: Option[JsonNode])

  private def snapDir(table: String): Path = Paths.get(table)

  private val SnapshotFile = """_snapshot-(\d+)\.json""".r

  /** Every published snapshot id of `table`, ascending. */
  def snapshotIds(table: String): Seq[Int] =
    if (!Files.exists(snapDir(table))) Nil
    else
      Files.list(snapDir(table)).iterator().asScala.map(_.getFileName.toString)
        .collect { case SnapshotFile(id) => id.toInt }.toSeq.sorted

  def latestSnapshotId(table: String): Option[Int] = snapshotIds(table).lastOption

  /** Commit `df` as a new named data dir + snapshot N+1. The data write is
    * to a location invisible to readers; the snapshot manifest is published
    * atomically through the [[committer]] — a killed writer leaves no
    * partial snapshot, and a lost publication race retries with N+1
    * (resume idempotence suite asserts this). `summary` is evaluated once,
    * after the data write, and published in the same manifest as the data,
    * so the two become visible together.
    */
  def commit(
      df: DataFrame,
      table: String,
      stage: String,
      format: String = "parquet",
      summary: => Option[JsonNode] = None
  ): Int = {
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
    // append-style: each snapshot lists its predecessor's dirs plus this one
    publish(table, summary)(prior => prior.fold(Seq.empty[String])(readManifest(table, _)) :+ dataDir)
  }

  /** Publish a snapshot with an EXPLICIT data-dir list and no data write —
    * the replace/compaction primitive: dropping a data dir from the table
    * (delete, rewrite, retention) is metadata-only, exactly as in Iceberg.
    * Dirs are immutable once written, so any dir present in two manifests is
    * byte-identical between them — the property the metadata-diff
    * incremental planner ([[graft.pipeline.Incremental.planFromSnapshots]])
    * relies on.
    */
  def commitFiles(table: String, files: Seq[String]): Int = publish(table, None)(_ => files)

  /** The one publish loop: snapshot N+1 over the latest snapshot N, with the
    * files `filesOver(N)`; a writer that loses N+1 rebases on the winner.
    */
  private def publish(table: String, summary: Option[JsonNode])(filesOver: Option[Int] => Seq[String]): Int = {
    Files.createDirectories(snapDir(table))
    @tailrec def attempt(): Int = {
      val prior = latestSnapshotId(table)
      val id = prior.getOrElse(0) + 1
      val m = Json.createObjectNode().put("snapshot", id)
      val files = m.putArray("files")
      filesOver(prior).foreach(files.add)
      summary.foreach(m.set[JsonNode]("summary", _))
      if (committer.publish(snapDir(table), s"_snapshot-$id.json", Json.writeValueAsBytes(m))) id
      else attempt()
    }
    attempt()
  }

  def manifest(table: String, id: Int): Manifest = {
    val m = Json.readTree(snapDir(table).resolve(s"_snapshot-$id.json").toFile)
    Manifest(m.get("files").elements().asScala.map(_.asText).toSeq, Option(m.get("summary")))
  }

  def readManifest(table: String, id: Int): Seq[String] = manifest(table, id).files

  private def formatOf(dataDir: String): String = {
    val name = dataDir.stripPrefix("data/")
    val dot = name.lastIndexOf('.')
    if (dot < 0) "parquet" else name.substring(dot + 1)
  }

  /** Read the latest committed snapshot (union of its data dirs, grouped by
    * their formats). Without `schema`, parquet infers it from the files,
    * which costs a Spark job; with it (the frame just committed, a fixed row
    * type) no job runs.
    */
  def read(spark: SparkSession, table: String, schema: Option[StructType] = None): Option[DataFrame] =
    latestSnapshotId(table).map { id =>
      readManifest(table, id)
        .groupBy(formatOf)
        .map { case (fmt, dirs) =>
          val reader = spark.read.format(fmt)
          schema.fold(reader)(reader.schema).load(dirs.map(d => s"$table/$d"): _*)
        }
        .reduce(_ unionByName _)
    }

  /** The latest manifest, if it lists a data dir of `stage` (resume check). */
  def committed(table: String, stage: String): Option[Manifest] =
    latestSnapshotId(table).map(manifest(table, _)).filter(_.files.exists(_.startsWith(s"data/$stage-")))
}
