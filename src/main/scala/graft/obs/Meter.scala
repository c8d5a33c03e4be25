package graft.obs

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The engine's one measurement module: Spark job and task metrics, summed
  * by one listener per SparkContext, and this JVM's GC time. [[measure]]
  * returns what a block ran: the difference of the running totals read
  * before and after it. Every read first waits until the listener bus has
  * delivered every event posted so far, so the totals read right after an
  * action hold all of that action's tasks, and those read before it none.
  */
object Meter {

  final case class Sample(
      jobs: Long, tasks: Long, taskMillis: Long, cpuNanos: Long, spillBytes: Long,
      shuffleBytes: Long, execGcMillis: Long, gcMillis: Long) {
    def -(o: Sample): Sample = Sample(
      jobs - o.jobs, tasks - o.tasks, taskMillis - o.taskMillis, cpuNanos - o.cpuNanos,
      spillBytes - o.spillBytes, shuffleBytes - o.shuffleBytes,
      execGcMillis - o.execGcMillis, gcMillis - o.gcMillis)
  }

  private final class Totals extends SparkListener {
    val jobs, tasks, taskMillis, cpuNanos, spillBytes, shuffleBytes, execGcMillis = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      // task wall time; against cpuNanos it separates per-row cost from
      // blocked and scheduler time
      taskMillis.addAndGet(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        // the shuffle writer's time is not part of executorCpuTime
        cpuNanos.addAndGet(m.executorCpuTime + m.shuffleWriteMetrics.writeTime)
        spillBytes.addAndGet(m.memoryBytesSpilled)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        // executor-side GC: under local-cluster the tasks run in executor
        // JVMs, whose collections this JVM's GC MXBeans do not see
        execGcMillis.addAndGet(m.jvmGCTime)
      }
    }
  }

  /** The context's listener, added on first use and found on the context's
    * listener bus afterwards, so there is never a second one.
    */
  private def totals(sc: SparkContext): Totals = synchronized {
    GraftListenerBridge.listeners[Totals](sc).headOption.getOrElse {
      val t = new Totals
      sc.addSparkListener(t)
      t
    }
  }

  /** Cumulative stop-the-world GC milliseconds of this JVM, all collectors. */
  private def gcMillis: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Running totals of `sc` (and of this JVM's GC), every posted event
    * delivered.
    */
  private def read(sc: SparkContext): Sample = {
    val t = totals(sc)
    GraftListenerBridge.drain(sc)
    Sample(t.jobs.get, t.tasks.get, t.taskMillis.get, t.cpuNanos.get, t.spillBytes.get,
      t.shuffleBytes.get, t.execGcMillis.get, gcMillis)
  }

  /** `f`'s result and what it ran on `sc`. */
  def measure[T](sc: SparkContext)(f: => T): (T, Sample) = {
    val before = read(sc)
    val out = f
    (out, read(sc) - before)
  }
}
