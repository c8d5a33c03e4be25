package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import graft.checkpoint.{AtomicLinkCommitter, PutIfAbsentCommitter, SnapshotTable}

/** A5 JSONL sink (ast/src/utils.rs:17-51, OUTPUT_FORMAT=jsonl) through the
  * snapshot commit protocol, the object-store-safe commit variant
  * (conditional PUT instead of a local atomic publish), and concurrent
  * writers with their own manifest summaries.
  */
class SnapshotFormatSpec extends SparkSpec {
  import spark.implicits._

  test("A5: JSONL commit round-trips through the snapshot protocol") {
    val dir = tempDir("graft-jsonl")
    val df = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", null))
      .toDF("id", "name", "opt")
    SnapshotTable.commit(df, s"$dir/t", "export", format = "json")
    // the committed data dir is real JSONL: one JSON object per line
    val manifest = SnapshotTable.readManifest(s"$dir/t", 1)
    assert(manifest.exists(_.endsWith(".json")), s"manifest must carry the format: $manifest")
    val back = SnapshotTable.read(spark, s"$dir/t").get
    val rows = back.select("id", "name", "opt").as[(Long, String, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", Some("x")), (2L, "b", Some("y")), (3L, "c", None)))
    // raw file check: newline-delimited JSON objects
    import scala.jdk.CollectionConverters._
    val dataDir = java.nio.file.Paths.get(s"$dir/t/${manifest.head}")
    val part = Files.list(dataDir).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val lines = Files.readAllLines(part).asScala.filter(_.nonEmpty)
    assert(lines.nonEmpty && lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }

  test("mixed-format snapshots: parquet + jsonl stages union on read") {
    val dir = tempDir("graft-mixed")
    val a = Seq((1L, "p")).toDF("id", "v")
    val b = Seq((2L, "j")).toDF("id", "v")
    SnapshotTable.commit(a, s"$dir/t", "s1")
    SnapshotTable.commit(b, s"$dir/t", "s2", format = "json")
    val back = SnapshotTable.read(spark, s"$dir/t").get
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "p"), (2L, "j")))
  }

  test("object-store commit: conditional PUT loses the race and retries with N+1") {
    val dir = tempDir("graft-putifabsent")
    val prev = SnapshotTable.committer
    SnapshotTable.committer = PutIfAbsentCommitter
    try {
      val df = Seq((1L, "a")).toDF("id", "v")
      assert(SnapshotTable.commit(df, s"$dir/t", "s1") == 1)
      // simulate a concurrent writer that already PUT snapshot 2: our commit
      // must observe the 412-equivalent and land at snapshot 3, with the
      // winner's manifest left untouched
      Files.writeString(
        java.nio.file.Paths.get(s"$dir/t/_snapshot-2.json"),
        """{"snapshot":2,"files":["data/other-2"]}"""
      )
      val id = SnapshotTable.commit(Seq((2L, "b")).toDF("id", "v"), s"$dir/t", "s2")
      assert(id == 3, s"lost race must retry to the next id, got $id")
      assert(
        Files.readString(java.nio.file.Paths.get(s"$dir/t/_snapshot-2.json"))
          .contains("data/other-2"),
        "the racing writer's manifest must never be overwritten"
      )
      // snapshot 3's manifest rebased on the winner's file list
      assert(SnapshotTable.readManifest(s"$dir/t", 3).contains("data/other-2"))
      // the primitive itself: a second PUT of the same key fails, never
      // overwrites (the If-None-Match contract the retry loop relies on)
      val d = java.nio.file.Paths.get(s"$dir/t")
      assert(PutIfAbsentCommitter.publish(d, "_snapshot-9.json", "{}".getBytes))
      assert(!PutIfAbsentCommitter.publish(d, "_snapshot-9.json", """{"x":1}""".getBytes))
      assert(Files.readString(d.resolve("_snapshot-9.json")) == "{}")
    } finally SnapshotTable.committer = prev
  }

  test("two writers commit to one table at once: both land, each with its own summary") {
    val dir = tempDir("graft-twowriters")
    val table = s"$dir/t"
    // both data writes finish before either publishes, so both race for
    // snapshot 1
    val ready = new CountDownLatch(2)
    def writer(name: String, id: Long): Thread = new Thread(() => {
      SnapshotTable.commit(Seq((id, name)).toDF("id", "v"), table, name, summary = {
        ready.countDown()
        assert(ready.await(60, TimeUnit.SECONDS))
        Some(SnapshotTable.Json.createObjectNode().put("writer", name))
      })
    })
    val ws = Seq(writer("a", 1L), writer("b", 2L))
    ws.foreach(_.start())
    ws.foreach(_.join(120000))
    assert(SnapshotTable.snapshotIds(table) == Seq(1, 2))
    val summaries = Seq(1, 2).map(id => SnapshotTable.manifest(table, id).summary.get.get("writer").asText)
    assert(summaries.sorted == Seq("a", "b"), s"each summary in its own manifest: $summaries")
    val last = SnapshotTable.readManifest(table, 2)
    assert(last.size == 2 && Seq("data/a-", "data/b-").forall(p => last.exists(_.startsWith(p))),
      s"the last manifest lists both data dirs: $last")
    assert(SnapshotTable.read(spark, table).get.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the local primitive never replaces a published manifest
    val d = java.nio.file.Paths.get(table)
    assert(AtomicLinkCommitter.publish(d, "_snapshot-9.json", "{}".getBytes))
    assert(!AtomicLinkCommitter.publish(d, "_snapshot-9.json", """{"x":1}""".getBytes))
    assert(Files.readString(d.resolve("_snapshot-9.json")) == "{}")
  }

  test("manifests are read as JSON: a partition-key-like string in a summary is not a file") {
    val dir = tempDir("graft-jsonmanifest")
    SnapshotTable.commit(Seq((1L, "a")).toDF("id", "v"), s"$dir/t", "s1",
      summary = Some(SnapshotTable.Json.createObjectNode().put("data/\"x", "data/y")))
    val m = SnapshotTable.manifest(s"$dir/t", 1)
    assert(m.files.size == 1 && m.files.head.startsWith("data/s1-1-"), s"files: ${m.files}")
    assert(m.summary.get.get("data/\"x").asText == "data/y")
  }
}
