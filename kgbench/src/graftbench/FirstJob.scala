package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records when an application's first Spark job was submitted: the end of
  * its set-up (JVM start, session start, planning of the first stage).
  *
  * Registered on a build process with `spark.extraListeners`. It writes the
  * job's submission time, epoch milliseconds, to `spark.kgbench.firstJobFile`.
  * With `spark.kgbench.haltAtFirstJob=true` it then ends the process, for
  * launches that only measure set-up.
  */
final class FirstJob(conf: SparkConf) extends SparkListener {
  private val path = conf.get("spark.kgbench.firstJobFile")
  private val halt = conf.getBoolean("spark.kgbench.haltAtFirstJob", false)
  private var seen = false

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (!seen) {
      seen = true
      Files.write(Paths.get(path), e.time.toString.getBytes(UTF_8))
      if (halt) Runtime.getRuntime.halt(0)
    }
}
