package graft.util

import org.apache.spark.sql.SparkSession

/** The engine's one session definition. `graft.app.Main`, Verify, Bench,
  * ExplainProbe and the test session all start from [[builder]], so
  * production runs the confs the tests and benchmarks check; this is the
  * only main code that calls `SparkSession.builder`. Callers add only what
  * their deployment decides: the master, the UI, Bench's executor shape.
  *
  * The engine confs come from thread-dump profiling of the full build at
  * local[32] (BASELINE.md round 3):
  *
  *  - Kryo serializer: RDD block + shuffle-spill (de)serialization of
  *    `UnsafeRow` under the default JavaSerializer runs through reflective
  *    `readExternal`/`ObjectStreamClass.newInstance` per row — with
  *    serialized checkpoint blocks it was the top CPU consumer at 32
  *    threads. Kryo writes the row bytes directly.
  *    (Combined with [[Ckpt]]'s serialized storage: 180 s -> 50 s full
  *    build at local[32], scale 16.)
  *  - `spark.file.transferTo=false`: the bypass shuffle writer's NIO
  *    `transferTo` concat mmaps/munmaps every partition segment; the
  *    process-wide mmap lock serializes 32 writers and burns system CPU
  *    (107 s -> 50 s together with Kryo). Plain stream copy is contention-
  *    free at identical throughput for these segment sizes.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, read once: the shuffle partitions of every session
    * and the N of the `local[N]` masters; by default the JVM's available
    * processors.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  val confs: Seq[(String, String)] = Seq(
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    // UnsafeRow blocks are acyclic: Kryo's reference tracking resets an
    // IdentityObjectIntMap per row — ~2.5% of build CPU in JFR samples of
    // the scale-64 build, pure overhead for this data model
    "spark.kryo.referenceTracking" -> "false",
    "spark.file.transferTo" -> "false",
    // collect_list/ObjectHashAggregate falls back to SORT-BASED aggregation
    // at 128 distinct keys per task (spark default) — the per-conversation
    // tool concat (B4 import sections) groups by conv_id (~100k+ groups per
    // task at bench scale), so the whole aggregation ran as an external row
    // sort of text-bearing rows (UnsafeExternalRowSorter was a top-5 CPU
    // frame). The hash map holds one small tool list per group; 4M entries
    // is well within executor memory at production sizing.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000",
    // a correctness setting: conv_id and turn_idx derive from the
    // session-zone date of each event (graft.sources.Transcripts)
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> cpus.toString
  )

  /** A builder that carries every engine conf; the caller adds its master. */
  def builder(appName: String): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder().appName(appName)) { case (b, (k, v)) => b.config(k, v) }

  /** A builder on a master this process chooses (`local[N]`, or
    * `local-cluster` for Bench's scaling legs), with the UI off.
    */
  def local(appName: String, master: String = s"local[$cpus]"): SparkSession.Builder =
    builder(appName).master(master).config("spark.ui.enabled", "false")

  /** The session of `b`, logging at WARN. */
  def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
