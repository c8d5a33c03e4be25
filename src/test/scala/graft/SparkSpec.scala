package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.util.Tuning(SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  lazy val transcripts: DataFrame =
    graft.sources.Transcripts.fromEvents(spark, sf0001).cache()

  lazy val graph: graft.pipeline.GraphBuild.Graph = {
    val g = graft.pipeline.GraphBuild.build(spark, transcripts)
    graft.pipeline.GraphBuild.Graph(
      g.nodes.localCheckpoint(),
      g.edges.localCheckpoint(),
      g.mentions
    )
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sf0001: String = SparkTestSession.sf0001

  /** Spark jobs that `f` runs. */
  def jobsRun(f: => Unit): Int =
    graft.obs.Meter.measure(spark.sparkContext)(f)._2.jobs.toInt

  /** Order-insensitive DataFrame equality on collected rows. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val ca = a.columns.sorted
    val cb = b.columns.sorted
    assert(ca.sameElements(cb), s"column mismatch: ${ca.mkString(",")} vs ${cb.mkString(",")}")
    val ra = a.select(ca.head, ca.tail: _*).collect().map(_.toString).sorted
    val rb = b.select(ca.head, ca.tail: _*).collect().map(_.toString).sorted
    assert(ra.length == rb.length, s"row count mismatch: ${ra.length} vs ${rb.length}")
    ra.zip(rb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs:\n  $x\n  $y")
    }
  }
}
