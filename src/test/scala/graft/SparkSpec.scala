package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Session

/** One shared local SparkSession for the whole forked test JVM. */
object SparkTestSession {
  // production's confs; the partition count is pinned so the job budgets
  // the specs assert do not depend on the box's SPARK_GRAFT_CPUS
  lazy val spark: SparkSession =
    Session.start(Session.local("graft-test", "local[4]").config("spark.sql.shuffle.partitions", "4"))

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

  /** A fresh dir under Spark's files root (`SparkFiles.getRootDirectory`),
    * which Spark deletes when the context stops: a spec's tables leave
    * nothing behind in the temp dir. Every spec makes its dirs here
    * (ToolingSpec guards it).
    */
  def tempDir(prefix: String): String = {
    spark.sparkContext // the root exists once the context has started
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(org.apache.spark.SparkFiles.getRootDirectory()), prefix).toString
  }

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
