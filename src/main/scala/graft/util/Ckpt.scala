package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Pipeline-wide local-checkpoint storage policy.
  *
  * `Dataset.localCheckpoint()` stores blocks DESERIALIZED
  * (MEMORY_AND_DISK): every block store runs Spark's `SizeEstimator`
  * sampling (`DeserializedValuesHolder.storeValue` ->
  * `SizeTracker.takeSample`), a reflective object-graph walk through a
  * SHARED class-info cache. Thread-dump profiling of the full build at
  * local[32] showed 15/33 task threads inside `SizeEstimator` /
  * its Guava cache — per-task CPU inflated ~17x vs local[8]
  * (258 task-seconds at 8 threads -> 4,400 at 32 for the same input).
  * Serialized storage (`MEMORY_AND_DISK_SER`) knows exact byte sizes and
  * never touches `SizeEstimator`, at the price of deserializing on each
  * downstream read. On a real cluster the same win holds per-executor
  * (fewer size-sampling walks, compact blocks); executors are typically
  * 4-8 cores, so the contention term is smaller but never negative.
  */
object Ckpt {

  val level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {

    /** `localCheckpoint` under the pipeline-wide storage policy. */
    def lcp(eager: Boolean = true): Dataset[T] = ds.localCheckpoint(eager, level)
  }

  /** LAZY local-checkpoint a batch of independent subtrees with their
    * analysis overlapped. `localCheckpoint(eager = false)` is lazy about
    * DATA but not about PLANNING: it resolves `queryExecution.toRdd`, i.e.
    * full analysis + optimization + physical planning, at call time on the
    * calling thread. The graph build checkpoints ~8 independent
    * mention-derived subtrees back to back, and that sequential planning was
    * measured at 3.2-3.7 s of every build (per-step timing of the build);
    * planning them on parallel driver threads collapses it to ~the slowest
    * single subtree. Catalyst analysis of INDEPENDENT Datasets is
    * thread-safe (concurrent actions on one session are a supported core
    * pattern). The subtrees' final data still materializes lazily on first
    * use, exactly as with sequential lcp(eager = false), but jobs DO run
    * here: under AQE, planning goes through `AdaptiveSparkPlanExec`, which
    * executes each subtree's shuffle query stages at call time (14 of a
    * `graft.app.Main` build's 90 jobs over the seed-3 build_cold corpus).
    */
  def lcpAll(dfs: Seq[org.apache.spark.sql.DataFrame]): Seq[org.apache.spark.sql.DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.traverse(dfs)(df => Future(df.localCheckpoint(false, level))),
      10.minutes)
  }
}
