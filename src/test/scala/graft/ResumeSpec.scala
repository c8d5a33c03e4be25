package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.{Lineage, SnapshotTable, StageRunner}
import graft.app.Main
import graft.pipeline.{CheckpointedBuild, GraphBuild, Stages}
import graft.extract.Mentions
import graft.sources.Transcripts

/** Resume-from-checkpoint idempotence (north rule; reference
  * update_incremental semantics graph_ops.rs:95-274):
  *  - a killed-after-stage-N run, restarted through `graft.app.Main`,
  *    produces byte-identical output tables WITHOUT recomputing committed
  *    stages;
  *  - a full re-run over an already-complete output dir recomputes nothing;
  *  - a resume over another corpus fails instead of reading its stages back;
  *  - a computed stage costs one Spark job, its snapshot write, and the
  *    lineage counts its manifest carries equal the committed table's, also
  *    when two runners commit the same stage at once on one session;
  *  - the node table the production entry commits is key-unique.
  */
class ResumeSpec extends SparkSpec {

  private val stages = Stages.All.map(_.name)

  private def snapIds(base: String): Map[String, Option[Int]] =
    stages.map(s => s -> SnapshotTable.latestSnapshotId(s"$base/$s")).toMap

  test("kill-after-stage-2 resume: identical outputs, no recomputation of committed stages") {
    val t = SparkTestSession.transcripts
    val dirFull = tempDir("graft-full")
    val dirKilled = tempDir("graft-killed")

    // uninterrupted run -> the expected final tables
    val full = CheckpointedBuild.run(spark, t, dirFull, "run-full")

    // simulate a run killed after committing the first two stages, over
    // the corpus Main.run reads (the same input identity)
    val input = CheckpointedBuild.inputIdentity(Transcripts.fromEvents(spark, sf0001))
    val r = new StageRunner(spark, dirKilled, "run-killed", input)
    val t1 = r.run(Stages.Transcripts)(t)
    r.run(Stages.MentionTable)(Mentions.extract(t1))
    val idsAfterKill = snapIds(dirKilled)
    assert(idsAfterKill("transcripts").isDefined && idsAfterKill("mentions").isDefined)
    assert(idsAfterKill("nodes").isEmpty, "later stages must not exist yet")

    // resume through the production entry: committed mentions/resolution
    // stages must be CONSUMED, not recomputed — the extractor never runs
    val extractionsBefore = Mentions.extractionInvocations.get()
    val resumed = Main.run(spark, sf0001, dirKilled, "run-resumed")
    assert(Mentions.extractionInvocations.get() == extractionsBefore,
      "resume after the mentions commit must perform no extraction")
    val idsAfterResume = snapIds(dirKilled)
    assert(idsAfterResume("transcripts") == idsAfterKill("transcripts"),
      "resume must NOT write a new transcripts snapshot")
    assert(idsAfterResume("mentions") == idsAfterKill("mentions"),
      "resume must NOT write a new mentions snapshot")
    assert(CheckpointedBuild.complete(dirKilled))

    assertSameRows(full.nodes, resumed.nodes)
    assertSameRows(full.edges, resumed.edges)

    // each stage's lineage committed with its data: the killed run's two
    // stages, then the five the resumed run computed
    val lin = Lineage.read(spark, dirKilled)
      .select("run_id", "stage").distinct().collect().map(r => (r.getString(0), r.getString(1)))
    assert(lin.sortBy(r => stages.indexOf(r._2)).toSeq ==
      stages.take(2).map(("run-killed", _)) ++ stages.drop(2).map(("run-resumed", _)),
      s"lineage must name the killed run's and the resumed run's stages: ${lin.mkString(", ")}")
  }

  test("a kill between a stage's data write and its manifest: the resume recomputes it") {
    val t = SparkTestSession.transcripts
    val dir = tempDir("graft-stray")
    val input = CheckpointedBuild.inputIdentity(t)
    val killed = new StageRunner(spark, dir, "run-killed", input)
    val t1 = killed.run(Stages.Transcripts)(t)
    // the killed run wrote the mentions data dir but never published it
    val stray = "data/mentions-1-deadbeef"
    Mentions.extract(t1).write.parquet(s"$dir/mentions/$stray")
    assert(SnapshotTable.latestSnapshotId(s"$dir/mentions").isEmpty)

    val resumed = new StageRunner(spark, dir, "run-resumed", input)
    val t2 = resumed.run(Stages.Transcripts)(sys.error("transcripts is committed"))
    val m = resumed.run(Stages.MentionTable)(Mentions.extract(t2))
    assert(SnapshotTable.snapshotIds(s"$dir/mentions") == Seq(1))
    assert(!SnapshotTable.readManifest(s"$dir/mentions", 1).contains(stray),
      "the stray data dir must stay invisible")
    assertSameRows(Mentions.extract(t), m)
    val lin = Lineage.read(spark, dir).where(col("stage") === "mentions")
    assert(lin.select("run_id").distinct().collect().map(_.getString(0)).toSeq == Seq("run-resumed"))
    assert(lin.count() == m.select("mention_type").distinct().count(),
      "one lineage row set for mentions: a row per mention type")
    assert(lin.agg(sum("row_count")).head().getLong(0) == m.count())
  }

  test("a resume over another corpus fails, naming the committed table") {
    val dir = tempDir("graft-othercorpus")
    Main.run(spark, sf0001, dir, "run-small")
    val sf001 = Paths.get(sf0001).resolveSibling("sf0.01").toString
    val e = intercept[IllegalStateException](Main.run(spark, sf001, dir, "run-big"))
    assert(e.getMessage.contains(s"$dir/transcripts"), e.getMessage)
    // a committed stage that records no corpus at all fails the same way
    val bare = tempDir("graft-bare")
    SnapshotTable.commit(SparkTestSession.transcripts, s"$bare/transcripts", "transcripts")
    val e2 = intercept[IllegalStateException](Main.run(spark, sf0001, bare, "run-bare"))
    assert(e2.getMessage.contains(s"$bare/transcripts"), e2.getMessage)
  }

  test("a computed stage costs exactly its snapshot write") {
    val df = SparkTestSession.transcripts.where(col("turn_idx") < 3).localCheckpoint()
    val dir = tempDir("graft-overhead")
    val writeJobs = jobsRun(SnapshotTable.commit(df, s"$dir/plain", "transcripts"))
    val r = new StageRunner(spark, dir, "run-overhead", "test-input")
    var back: DataFrame = null
    val stageJobs = jobsRun { back = r.run(Stages.Transcripts)(df) }
    assert(stageJobs == writeJobs,
      s"StageRunner.run ran $stageJobs jobs; the snapshot write alone runs $writeJobs")
    // the read-back without inference has the schema inference would give
    assert(back.schema == SnapshotTable.read(spark, s"$dir/transcripts").get.schema)
    assert(r.rowsCommitted(Stages.Transcripts) == df.count())
  }

  private def keyCounts(df: DataFrame): Seq[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  /** `table`'s rows per value of `st`'s lineage key, as its lineage counts it. */
  private def grouped(table: DataFrame, st: Stages.Stage): Seq[(String, Long)] =
    keyCounts(table.groupBy(coalesce(col(st.partitionCol).cast("string"), lit("null"))).count())

  test("two runners commit the same stage at once on one session: both land, each with its own counts") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = SparkTestSession.transcripts
    // two runners over one frame (one observed source), and one over other
    // rows, so counts delivered to the wrong runner show
    val inputs = Seq(t, t, t.where(col("turn_idx") < 3))
    val dirs = inputs.map(_ => tempDir("graft-concurrent"))
    val ready = new java.util.concurrent.CountDownLatch(inputs.size)
    val runs = dirs.zip(inputs).map { case (dir, df) =>
      Future {
        ready.countDown()
        ready.await()
        new StageRunner(spark, dir, s"run-$dir", "test-input").run(Stages.Transcripts)(df)
      }
    }
    Await.result(Future.sequence(runs), 10.minutes)
    dirs.zip(inputs).foreach { case (dir, df) =>
      val committed = SnapshotTable.read(spark, s"$dir/transcripts").get
      assert(committed.count() == df.count())
      val lin = Lineage.read(spark, dir).select("partition_key", "row_count")
      assert(keyCounts(lin) == grouped(committed, Stages.Transcripts),
        s"$dir: lineage counts differ from the committed table")
    }
  }

  test("the node table Main.run commits is key-unique") {
    val dir = tempDir("graft-mainkeys")
    Main.run(spark, sf0001, dir, "run-keys")
    GraphBuild.validateKeyUniqueness(SnapshotTable.read(spark, s"$dir/${Stages.Nodes.name}").get)
  }

  test("re-run over a complete dir recomputes nothing (snapshot ids frozen)") {
    val t = SparkTestSession.transcripts
    val dir = tempDir("graft-rerun")
    CheckpointedBuild.run(spark, t, dir, "run-a")
    val ids1 = snapIds(dir)
    val again = CheckpointedBuild.run(spark, t, dir, "run-b")
    assert(snapIds(dir) == ids1, "second run must not commit any new snapshot")
    assert(again.nodes.count() > 0 && again.edges.count() > 0)
  }

  test("lineage rows carry per-partition counts and stage metrics") {
    val t = SparkTestSession.transcripts
    val dir = tempDir("graft-lineage")
    val start = new java.sql.Timestamp(System.currentTimeMillis())
    val res = CheckpointedBuild.run(spark, t, dir, "run-lin")
    val end = new java.sql.Timestamp(System.currentTimeMillis())
    val lin = Lineage.read(spark, dir)
    // the lineage lives in the stage manifests, and reading it runs no job
    assert(!Files.exists(Paths.get(s"$dir/_lineage")), "CheckpointedBuild.run writes no _lineage dir")
    assert(jobsRun(Lineage.read(spark, dir)) == 0)
    val byStage = lin.groupBy("stage").agg(sum("row_count").as("rows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-partition counts must sum to the committed table sizes
    assert(byStage("transcripts") == t.count())
    assert(byStage("mentions") == Mentions.extract(t).count())
    assert(byStage("nodes") == res.nodes.count())
    assert(byStage("edges") == res.edges.count())
    // ...and, key by key, equal a groupBy of each committed table
    Stages.All.foreach { st =>
      val observed = keyCounts(lin.where(col("stage") === st.name).select("partition_key", "row_count"))
      val counts = grouped(SnapshotTable.read(spark, s"$dir/${st.name}").get, st)
      assert(observed == counts, s"${st.name}: lineage counts differ from the committed table")
      assert(res.runner.rowsCommitted(st) == counts.map(_._2).sum)
    }
    // every stage recorded wall time, and its commit time within the run
    assert(lin.where(col("wall_ms") < 0).isEmpty)
    assert(lin.where(col("committed_at") < lit(start) || col("committed_at") > lit(end)).isEmpty,
      s"lineage rows must be stamped within the run [$start, $end]")
    // partition keys are real values of the partition column
    val mentionPks = lin.where(col("stage") === "mentions")
      .select("partition_key").collect().map(_.getString(0)).toSet
    assert(mentionPks.contains("Entity"))
  }

  test("committed and in-memory builds hold the same nodes, edges and mentions") {
    val dir = tempDir("graft-sinks")
    val res = CheckpointedBuild.run(spark, SparkTestSession.transcripts, dir, "run-sinks")
    val g = SparkTestSession.graph
    assertSameRows(g.nodes, res.nodes)
    assertSameRows(g.edges, res.edges)
    assertSameRows(g.mentions, SnapshotTable.read(spark, s"$dir/mentions").get)
  }

  test("the stage sequence reaches exactly Stages.All, in order") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    Stages.run(spark, SparkTestSession.transcripts, new Stages.Sink {
      def run(stage: Stages.Stage)(compute: => DataFrame): DataFrame = {
        seen += stage.name
        compute
      }
    })
    assert(seen == stages)
  }

  test("H1 incremental: only changed conversations re-extract; output equals full rebuild") {
    import graft.pipeline.Incremental
    val newT = SparkTestSession.transcripts
    // "previous" corpus: one conversation modified, one since removed (a
    // renamed copy of another conversation), the rest identical
    val convs = newT.select("conv_id").distinct().orderBy("conv_id")
      .collect().map(_.getString(0))
    val (victim, gone) = (convs(0), s"${convs(1)}-gone")
    val oldT = newT.withColumn(
      "text",
      when(col("conv_id") === victim, concat(col("text"), lit(" OLD"))).otherwise(col("text"))
    ).unionByName(newT.where(col("conv_id") === convs(1)).withColumn("conv_id", lit(gone)))
    // the prior run's committed state: fingerprints + mention table
    val committedFps = Incremental.fingerprints(oldT)
    val oldMentions = Mentions.extract(oldT)
    assert(!oldMentions.where(col("conv_id") === gone).isEmpty,
      "the removed conversation must have committed mentions to drop")

    // change detection: exactly the modified and the removed conversation
    val p = Incremental.plan(committedFps, newT)
    val changed = p.changed.collect().map(_.getString(0)).toSet
    assert(changed == Set(victim), s"changed set must be exactly the modified conv: $changed")
    val removed = p.removed.collect().map(_.getString(0)).toSet
    assert(removed == Set(gone), s"removed set must be exactly the dropped conv: $removed")

    // ...and only that conversation's turns flow into extraction, per row
    val probe = spark.sparkContext.longAccumulator("h1-extractor-rows")
    Mentions.rowProbe = Some(probe)
    val (n, e) =
      try {
        val g = Incremental.build(spark, committedFps, oldMentions, newT)
        (g.nodes.localCheckpoint(), g.edges.localCheckpoint())
      } finally Mentions.rowProbe = None
    val victimTurns = newT
      .where(col("conv_id") === victim && length(col("text")) <= Mentions.MaxTurnChars)
      .count()
    assert(probe.value == victimTurns,
      s"extractor scanned ${probe.value} turns; only the victim's $victimTurns allowed")

    // the incremental graph equals the full rebuild
    val full = GraphBuild.build(spark, newT)
    assertSameRows(full.nodes, n)
    assertSameRows(full.edges, e)
  }

  test("H1 incremental never re-scans the old corpus: build succeeds after its files are deleted") {
    import graft.pipeline.Incremental
    val newT = SparkTestSession.transcripts
    val victim = newT.select("conv_id").orderBy("conv_id").first().getString(0)
    val oldT = newT.where(col("conv_id") =!= victim) // victim conv is "new"

    // the prior run commits its state to the store, THEN its corpus files
    // are deleted — any read of the old corpus from here on throws
    val storeDir = tempDir("graft-incstore")
    val oldDir = s"${tempDir("graft-oldcorpus")}/t"
    oldT.write.parquet(oldDir)
    val oldFromDisk = spark.read.parquet(oldDir)
    Incremental.commitState(spark, storeDir, oldFromDisk, Mentions.extract(oldFromDisk))
    // delete the old corpus bytes (keep the dir so the reader is bound)
    import scala.jdk.CollectionConverters._
    Files.list(java.nio.file.Paths.get(oldDir)).iterator().asScala
      .foreach(p => Files.delete(p))

    // change detection + rebuild from the committed store only
    val p = Incremental.plan(SnapshotTable.read(spark, s"$storeDir/conv_fps").get, newT)
    assert(p.changed.collect().map(_.getString(0)).toSet == Set(victim))
    assert(p.removed.isEmpty)
    val inc = Incremental.buildFromStore(spark, storeDir, newT)
    val full = GraphBuild.build(spark, newT)
    assertSameRows(full.nodes, inc.nodes)
    assertSameRows(full.edges, inc.edges)
  }

  test("fingerprint encoding is unambiguous: NULL tool vs literal 'null' differ") {
    import graft.pipeline.Incremental
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val a = Seq(("c1", 0, "user", "x", Option.empty[String], ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val b = Seq(("c1", 0, "user", "x", Option("null"), ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val fa = Incremental.fingerprints(a).select("fp").as[String].head()
    val fb = Incremental.fingerprints(b).select("fp").as[String].head()
    assert(fa != fb, "NULL tool and the string 'null' must fingerprint differently")
  }

  test("snapshot commit is atomic: a stray tmp manifest is never visible") {
    val dir = tempDir("graft-atomic")
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    SnapshotTable.commit(df, s"$dir/t", "s1")
    // simulate a killed writer: data written, manifest only staged as .tmp
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/t/_snapshot-99.json.tmp"),
      """{"snapshot":99,"files":["data/bogus-99"]}"""
    )
    // a writer killed between its data write and its manifest commit: a
    // data dir no manifest names
    Seq((99, "stray")).toDF("id", "v").write.parquet(s"$dir/t/data/s2-2-deadbeef")
    assert(SnapshotTable.latestSnapshotId(s"$dir/t").contains(1),
      "tmp manifest must be invisible to readers")
    assert(SnapshotTable.read(spark, s"$dir/t").get.count() == 2)
    // the next commit succeeds over both leftovers, and still hides them
    assert(SnapshotTable.commit(Seq((3, "c")).toDF("id", "v"), s"$dir/t", "s2") == 2)
    val ids = SnapshotTable.read(spark, s"$dir/t").get.select("id").as[Int].collect().toSet
    assert(ids == Set(1, 2, 3), s"committed rows only: $ids")
  }
}
