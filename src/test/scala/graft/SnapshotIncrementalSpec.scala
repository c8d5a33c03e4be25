package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotTable
import graft.extract.Mentions
import graft.pipeline.{GraphBuild, Incremental}

/** Snapshot-METADATA incremental: when the corpus is a SnapshotTable,
  * change detection is a manifest diff — no full-corpus fingerprint scan,
  * and unchanged data dirs are never read during planning. The rebuild's
  * extractor sees the changed conversations' turns only (counted per row),
  * and its nodes and edges equal a full rebuild's.
  *
  * Corpus fixture: v1 = dir A (stable convs) + dir B (old text of the
  * modified convs, plus the to-be-dropped convs); v2 = dir A + dir C (new
  * text of the modified convs), dir B removed via a metadata-only
  * [[SnapshotTable.commitFiles]] replace commit.
  */
class SnapshotIncrementalSpec extends SparkSpec {

  /** (corpusTable, storeDir, expected-changed convs, expected-removed convs,
    * the v2 corpus as a plain DataFrame for full-rebuild comparison).
    */
  private def fixture(): (String, String, Set[String], Set[String], DataFrame) = {
    val t = SparkTestSession.transcripts
    val convs = t.select("conv_id").distinct().orderBy("conv_id")
      .collect().map(_.getString(0)).toSeq
    assert(convs.size >= 3, "fixture needs at least 3 conversations")
    val (g2, g3) = (convs(0), convs(1)) // modified, dropped
    val corpus = s"${tempDir("graft-snapcorpus")}/t"
    val store = tempDir("graft-snapstore")

    // v1: dir A = stable convs; dir B = g2 with OLD text + g3
    SnapshotTable.commit(
      t.where(!col("conv_id").isin(g2, g3)), corpus, "corpus")
    val oldB = t.where(col("conv_id").isin(g2, g3))
      .withColumn("text",
        when(col("conv_id") === g2, concat(col("text"), lit(" OLD")))
          .otherwise(col("text")))
    SnapshotTable.commit(oldB, corpus, "corpus")

    // the prior full run commits its state against v1
    val v1 = SnapshotTable.read(spark, corpus).get
    Incremental.commitStateSnapshot(spark, store, corpus,
      Mentions.extract(v1))

    // v2: add dir C (g2, NEW text), then drop dir B metadata-only
    SnapshotTable.commit(t.where(col("conv_id") === g2), corpus, "corpus")
    val id3 = SnapshotTable.latestSnapshotId(corpus).get
    val dirs3 = SnapshotTable.readManifest(corpus, id3)
    val dirB = dirs3(1) // commit order: A, B, C
    SnapshotTable.commitFiles(corpus, dirs3.filterNot(_ == dirB))

    val v2Expected = t.where(col("conv_id") =!= g3)
    (corpus, store, Set(g2), Set(g3), v2Expected)
  }

  /** The inputs both tests run over: the fixture's store (one modified and
    * one dropped conversation), and a store committed from the CURRENT
    * corpus, against which nothing changed — the rebuild must then extract
    * zero rows.
    */
  private def inputs(): Seq[(String, String, Set[String], Set[String], DataFrame)] = {
    val changedInput @ (corpus, _, _, _, v2) = fixture()
    val storeNow = tempDir("graft-snapstore-now")
    Incremental.commitStateSnapshot(spark, storeNow, corpus,
      Mentions.extract(SnapshotTable.read(spark, corpus).get))
    Seq(changedInput, (corpus, storeNow, Set.empty[String], Set.empty[String], v2))
  }

  test("manifest-diff plan: changed/removed exact, unchanged dirs never read") {
    inputs().foreach { case (corpus, store, expChanged, expRemoved, _) =>
      // delete the bytes of every dir EXCEPT the added ones — planning must
      // still succeed, proving change detection reads only added dirs
      val added = {
        val newDirs = SnapshotTable
          .readManifest(corpus, SnapshotTable.latestSnapshotId(corpus).get)
        val stored = SnapshotTable.manifest(s"$store/mentions_store", 1).summary.get
        val oldDirs = SnapshotTable.readManifest(corpus, stored.get("corpus_snapshot").asInt).toSet
        newDirs.filterNot(oldDirs)
      }
      val dataRoot = java.nio.file.Paths.get(s"$corpus/data")
      Files.list(dataRoot).iterator().asScala
        .filterNot(p => added.contains(s"data/${p.getFileName}"))
        .foreach { dir =>
          Files.list(dir).iterator().asScala.foreach(Files.delete)
        }
      val p = Incremental.planFromSnapshots(spark, store, corpus)
      val changed = p.changed.collect().map(_.getString(0)).toSet
      val removed = p.removed.collect().map(_.getString(0)).toSet
      assert(changed == expChanged, s"changed=$changed expected=$expChanged")
      assert(removed == expRemoved, s"removed=$removed expected=$expRemoved")
    }
  }

  test("snapshot incremental ≡ full rebuild, extraction runs once on the delta only") {
    inputs().foreach { case (corpus, store, expChanged, _, v2) =>
      val before = Mentions.extractionInvocations.get()
      val probe = spark.sparkContext.longAccumulator("snapshot-extractor-rows")
      Mentions.rowProbe = Some(probe)
      val (n, e) =
        try {
          val g = Incremental.buildFromSnapshotStore(spark, store, corpus)
          // force both plans so every extractor task has run before counting
          (g.nodes.localCheckpoint(), g.edges.localCheckpoint())
        } finally Mentions.rowProbe = None
      assert(Mentions.extractionInvocations.get() == before + 1,
        "exactly one extractor pass (the changed-conversation delta)")
      // row-level: the extractor scanned exactly the changed conversations'
      // turns — none of an unchanged conversation, none on a no-change run
      val changedTurns = v2
        .where(col("conv_id").isin(expChanged.toSeq: _*))
        .where(length(col("text")) <= Mentions.MaxTurnChars)
        .count()
      assert(probe.value == changedTurns,
        s"extractor scanned ${probe.value} turns; only the $changedTurns changed-conv turns allowed")
      val p = Incremental.planFromSnapshots(spark, store, corpus)
      val deltaConvs = p.changed.collect().map(_.getString(0)).toSet
      assert(deltaConvs == expChanged)
      val full = GraphBuild.build(spark, v2)
      assertSameRows(full.nodes, n)
      assertSameRows(full.edges, e)
    }
  }
}
