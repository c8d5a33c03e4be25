package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotTable
import graft.extract.Mentions
import graft.pipeline.{GraphBuild, Incremental}

/** MERGED incremental (the reference's remove+rebuild+restore shape,
  * graph_ops.rs:95-274, made exact): unchanged conversations' text-derived
  * node rows come from the committed node table, the D16 hit projection from
  * its committed store, and corpus TEXT flows through the extractor for
  * changed conversations ONLY — proven here with a per-row accumulator, not
  * just an invocation count. Output must be byte-identical to a full
  * rebuild over the current corpus, nodes AND edges.
  *
  * Fixture mirrors SnapshotIncrementalSpec: v1 = dir A (stable) + dir B
  * (old text of the modified conv + the to-be-dropped conv); v2 = A + C
  * (new text of the modified conv), B dropped metadata-only.
  */
class MergedIncrementalSpec extends SparkSpec {

  private def fixture(): (String, String, Set[String], DataFrame) = {
    val t = SparkTestSession.transcripts
    val convs = t.select("conv_id").distinct().orderBy("conv_id")
      .collect().map(_.getString(0)).toSeq
    assert(convs.size >= 3, "fixture needs at least 3 conversations")
    val (g2, g3) = (convs(0), convs(1)) // modified, dropped
    val corpus = Files.createTempDirectory("graft-mergecorpus").resolve("t").toString
    val store = Files.createTempDirectory("graft-mergestore").toString

    SnapshotTable.commit(
      t.where(!col("conv_id").isin(g2, g3)), corpus, "corpus")
    val oldB = t.where(col("conv_id").isin(g2, g3))
      .withColumn("text",
        when(col("conv_id") === g2, concat(col("text"), lit(" OLD")))
          .otherwise(col("text")))
    SnapshotTable.commit(oldB, corpus, "corpus")

    // the prior full run commits mention + fingerprint + GRAPH state vs v1
    val v1 = SnapshotTable.read(spark, corpus).get
    Incremental.commitStateSnapshot(spark, store, corpus, Mentions.extract(v1))
    Incremental.commitGraphState(spark, store, corpus,
      GraphBuild.build(spark, v1).nodes)

    // v2: add dir C (g2, NEW text), then drop dir B metadata-only
    SnapshotTable.commit(t.where(col("conv_id") === g2), corpus, "corpus")
    val id3 = SnapshotTable.latestSnapshotId(corpus).get
    val dirs3 = SnapshotTable.readManifest(corpus, id3)
    SnapshotTable.commitFiles(corpus, dirs3.filterNot(_ == dirs3(1)))

    (corpus, store, Set(g2), t.where(col("conv_id") =!= g3))
  }

  test("merged incremental ≡ full rebuild; extractor scans ONLY changed conversations' turns") {
    val (corpus, store, expChanged, v2) = fixture()
    val probe = spark.sparkContext.longAccumulator("merged-extractor-rows")
    Mentions.rowProbe = Some(probe)
    val inc =
      try {
        val g = Incremental.buildFromMergedStore(spark, store, corpus)
        // force both plans so every extractor task has run before counting
        (g.nodes.localCheckpoint(), g.edges.localCheckpoint())
      } finally Mentions.rowProbe = None
    val changedTurns = v2
      .where(col("conv_id").isin(expChanged.toSeq: _*))
      .where(length(col("text")) <= Mentions.MaxTurnChars)
      .count()
    assert(probe.value == changedTurns,
      s"extractor scanned ${probe.value} turns; only the $changedTurns changed-conv turns allowed")
    val full = GraphBuild.build(spark, v2)
    assertSameRows(full.nodes, inc._1)
    assertSameRows(full.edges, inc._2)
  }

  test("empty delta: a no-change corpus rebuilds exactly with ZERO extractor rows") {
    val (corpus, store, _, _) = fixture()
    // commit the state of the CURRENT corpus, so the next run sees no diff
    val vNow = SnapshotTable.read(spark, corpus).get
    val store2 = Files.createTempDirectory("graft-mergestore2").toString
    // conv_dirs/corpus_dirs must describe the current snapshot: re-commit
    Incremental.commitStateSnapshot(spark, store2, corpus, Mentions.extract(vNow))
    Incremental.commitGraphState(spark, store2, corpus,
      GraphBuild.build(spark, vNow).nodes)
    val probe = spark.sparkContext.longAccumulator("merged-empty-delta-rows")
    Mentions.rowProbe = Some(probe)
    val inc =
      try {
        val g = Incremental.buildFromMergedStore(spark, store2, corpus)
        (g.nodes.localCheckpoint(), g.edges.localCheckpoint())
      } finally Mentions.rowProbe = None
    assert(probe.value == 0L, s"no-change run scanned ${probe.value} turns")
    val full = GraphBuild.build(spark, vNow)
    assertSameRows(full.nodes, inc._1)
    assertSameRows(full.edges, inc._2)
  }
}
