package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine's layers.
  *
  * A span has a name, a parent and a start/end time; spans of one run share
  * the tracer's run id. While a span is open the tracer sets the Spark job
  * group to it, so the [[TaskCounters]] listener can charge every job, and
  * every task of that job, to the innermost open span. Spans are kept in
  * memory and written once by [[toJson]] at the end of the run.
  *
  * A disabled tracer runs the body and records nothing.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  /** Spans open while active; the harness pauses tracing to time untraced
    * work in the same run, for the overhead figure.
    */
  var active: Boolean = enabled

  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var sc: Option[SparkContext] = None
  private var listener: Option[TaskCounters] = None
  /** Named counts recorded at layer boundaries (work done, outcomes). */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Attach to a session's context: installs the task listener once. */
  def attach(context: SparkContext): Unit =
    if (enabled && sc.isEmpty) {
      val l = new TaskCounters
      context.addSparkListener(l)
      sc = Some(context)
      listener = Some(l)
    }

  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val s = Span(spans.size + 1, open.headOption.map(_.id).getOrElse(0), name, System.nanoTime())
      spans += s
      open = s :: open
      sc.foreach(_.setJobGroup(groupOf(s.id), name))
      try f
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.foreach { c =>
          open.headOption match {
            case Some(p) => c.setJobGroup(groupOf(p.id), p.name)
            case None => c.clearJobGroup()
          }
        }
      }
    }

  def count(name: String, v: Double): Unit = if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Spans, counters and the task-time union as one JSON object. Waits for
    * the listener bus to deliver every event posted so far.
    */
  def toJson(): Json.Raw = {
    sc.foreach(c => org.apache.spark.KgbenchBus.drain(c))
    val agg = listener.map(_.bySpan()).getOrElse(Map.empty[Int, Agg])
    val rows = spans.map { s =>
      val childNs = spans.iterator.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
      val a = agg.getOrElse(s.id, Agg.empty)
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> ((s.endNs - s.startNs) - childNs) / 1e6,
        "jobs" -> a.jobs, "tasks" -> a.tasks, "cpu_s" -> a.cpuNs / 1e9,
        "gc_s" -> a.gcMs / 1e3, "run_s" -> a.runMs / 1e3,
        "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
        "spill_bytes" -> a.spill, "records_read" -> a.recordsRead,
        "stage_skew" -> a.stageSkew)
    }
    val busy = listener.map(_.busyIntervals()).getOrElse(Nil)
    Json.obj(
      "run_id" -> runId,
      "t0_epoch_ms" -> t0Ms,
      "spans" -> Json.arr(rows.toSeq),
      "counts" -> Json.obj(counts.toSeq: _*),
      "task_busy_ms" -> Json.arr(busy.map { case (a, b) => Json.arr(Seq(a - t0Ms, b - t0Ms)) }))
  }

  private val t0 = System.nanoTime()
  // wall-clock origin matching t0, for task launch/finish times (epoch ms)
  private val t0Ms = System.currentTimeMillis().toDouble
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long) {
    var endNs: Long = startNs
  }

  private[graftbench] val GroupPrefix = "kgbench-span-"
  private def groupOf(id: Int) = s"$GroupPrefix$id"

  final case class Agg(
      jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long, runMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, recordsRead: Long,
      stageSkew: Double)
  object Agg { val empty = Agg(0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }
}

/** Charges task metrics to spans via the job group of the job that ran them.
  * Shuffle bytes are kept raw (no unit rounding before any ratio). A span's
  * stage skew is the largest max ÷ median task time of any of its stages
  * that ran at least two tasks with a median above 0 ms.
  */
final class TaskCounters extends SparkListener {
  import Tracer._

  private final class Acc {
    var jobs, tasks, cpuNs, gcMs, runMs, shuffleWrite, shuffleRead, spill, recordsRead = 0L
    val durations = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  }

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val busy = ArrayBuffer.empty[(Double, Double)]

  private def acc(span: Int) = accs.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt).getOrElse(0)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val a = acc(span)
    a.synchronized(a.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0)
    val a = acc(span)
    val info = e.taskInfo
    a.synchronized {
      a.tasks += 1
      a.durations.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += info.duration
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.runMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
    busy.synchronized(busy += ((info.launchTime.toDouble, info.finishTime.toDouble)))
  }

  def bySpan(): Map[Int, Agg] = {
    import scala.jdk.CollectionConverters._
    accs.asScala.map { case (span, a) =>
      a.synchronized {
        val skews = a.durations.values.filter(_.size >= 2).map(_.sorted)
          .collect { case d if d(d.size / 2) > 0 => d.last.toDouble / d(d.size / 2) }
        span.toInt -> Agg(a.jobs, a.tasks, a.cpuNs, a.gcMs, a.runMs, a.shuffleWrite,
          a.shuffleRead, a.spill, a.recordsRead, skews.maxOption.getOrElse(0.0))
      }
    }.toMap
  }

  /** Merged [launch, finish] intervals of all tasks, epoch milliseconds. */
  def busyIntervals(): Seq[(Double, Double)] = busy.synchronized {
    busy.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${enc(v)}" }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(enc).mkString("[", ",", "]"))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def enc(v: Any): String = v match {
    case Raw(s) => s
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => arr(xs).s
    case x => str(x.toString)
  }
}
