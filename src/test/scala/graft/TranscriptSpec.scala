package graft

import org.apache.spark.sql.GraftTestHooks
import org.apache.spark.sql.functions._
import graft.extract.Mentions
import graft.pipeline.{CheckpointedBuild, GraphBuild}
import graft.sources.Transcripts

/** North-rule invariants on the corpus itself:
  *  - stable (conv_id, turn_idx) ordering: turn_idx is dense 0..n-1 per
  *    conversation and monotone in (ts, tie-break) — deterministic across
  *    shuffles and parallelism levels;
  *  - per-turn text equality end-to-end: the Turn nodes of the materialized
  *    graph carry the input `text` byte-identical.
  */
class TranscriptSpec extends SparkSpec {

  test("turn_idx is dense per conversation starting at 0") {
    val t = SparkTestSession.transcripts
    val bad = t
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n"), min("turn_idx").as("lo"), max("turn_idx").as("hi"),
        countDistinct("turn_idx").as("nd"))
      .where(col("lo") =!= 0 || col("hi") =!= col("n") - 1 || col("nd") =!= col("n"))
    assert(bad.isEmpty, "turn_idx must be dense 0..n-1 per conversation")
  }

  test("turn ordering is monotone in ts within a conversation") {
    import org.apache.spark.sql.expressions.Window
    val t = SparkTestSession.transcripts
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val bad = t
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .where(col("prev_ts").isNotNull && col("ts") < col("prev_ts"))
    assert(bad.isEmpty, "ts must be non-decreasing along turn_idx")
  }

  test("ordering is deterministic across parallelism levels") {
    // same derivation, different shuffle partitioning -> identical rows
    val t1 = SparkTestSession.transcripts
    val t2 = graft.sources.Transcripts
      .fromEvents(spark, sf0001)
      .repartition(13)
    assertSameRows(t1, t2)
  }

  test("per-turn text equality survives into the materialized Turn nodes") {
    val turnBodies = SparkTestSession.graph.nodes
      .where(col("node_type") === "Turn")
      .select(col("conv_id"), col("turn_idx"), col("body").as("text"))
    val input = SparkTestSession.transcripts.select("conv_id", "turn_idx", "text")
    assertSameRows(input, turnBodies)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a graph build and the flagship entry leave nothing in Spark's cache manager") {
    val before = GraftTestHooks.cachedPlans(spark)
    assert(GraphBuild.build(spark, Transcripts.fromEvents(spark, sf0001)).edges.count() > 0)
    assert(SparkEntry.entry(spark).count() > 0)
    assert(GraftTestHooks.cachedPlans(spark) == before, "a build registered a cached plan it never releases")
  }

  test("duplicated input rows are caught by the key-uniqueness guard") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val row = ("conv-000900-x", 0, "user", "please check Postgres", None: Option[String], ts)
    val dup = Seq(row, row).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val g = GraphBuild.build(spark, dup)
    intercept[IllegalArgumentException] {
      GraphBuild.validateKeyUniqueness(g.nodes)
    }
    // well-formed input passes
    GraphBuild.validateKeyUniqueness(SparkTestSession.graph.nodes)
  }

  /** A4 fixture: turn 1 is longer than the size limit and full of aliases. */
  private def oversizeFixture = {
    import spark.implicits._
    val big = "Postgres " * (Mentions.MaxTurnChars / 9 + 2) // > MaxTurnChars, full of aliases
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq(
      ("conv-000900-x", 0, "user", "please check Postgres", None: Option[String], ts),
      ("conv-000900-x", 1, "user", big, None: Option[String], ts)
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  test("A4: oversize turns keep their spine node (skipped=true) but are never extracted") {
    import spark.implicits._
    val g = GraphBuild.build(spark, oversizeFixture)
    val turns = g.nodes.where(col("node_type") === "Turn")
      .select("turn_idx", "skipped").as[(Int, Boolean)].collect().toMap
    assert(turns == Map(0 -> false, 1 -> true))
    // the oversize turn contributed no mentions (and so no MENTIONS edge)
    assert(g.mentions.where(col("turn_idx") === 1).isEmpty)
    val mentionEdges = g.edges.where(col("edge_type") === "MENTIONS").count()
    assert(mentionEdges == 1)
    // body hash is the sha256 of the text (A4 content hash)
    val h = g.nodes.where(col("node_type") === "Turn" && col("turn_idx") === 0)
      .select("hash").as[String].head()
    assert(h == java.security.MessageDigest.getInstance("SHA-256")
      .digest("please check Postgres".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("A4: the committed build extracts nothing from oversize turns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-a4").toString
    val res = CheckpointedBuild.run(spark, oversizeFixture, dir, "run-a4")
    val mentions = graft.checkpoint.SnapshotTable.read(spark, s"$dir/mentions").get
    assert(mentions.where(col("turn_idx") === 1).isEmpty)
    assert(res.edges.where(col("edge_type") === "MENTIONS").count() == 1)
  }
}
