package graft

import java.lang.ref.WeakReference
import org.apache.spark.sql.{DataFrame, GraftTestHooks}
import org.apache.spark.sql.functions._
import graft.query.{Adjacency, Query}
import graft.query.Adjacency.Leg

/** The resident adjacency leaf behind the BFS operators (PLAN_AUDIT.md
  * invariant: the edge relation is partitioned once per edge frame per
  * process). Traversals over a memoized leaf must return the rows a fresh
  * frame returns; a repeat traversal must move only frontier-sized data; a
  * leaf must survive losing its blocks; and leaves never cross frames.
  * Job budgets live here too: a BFS level, and a whole committed build.
  */
class AdjacencySpec extends SparkSpec {
  import spark.implicits._

  private val types = Seq("CALLS", "CONTAINS", "OPERAND")

  /** A seeded random multigraph: `n` nodes, `m` typed edges, with repeated
    * (src, dst) pairs under different types and some exact duplicate rows.
    */
  private def edgeRows(n: Int, m: Int, seed: Long): Seq[(String, String, String)] = {
    val rng = new scala.util.Random(seed)
    val base = Seq.fill(m)((types(rng.nextInt(3)), s"n${rng.nextInt(n)}", s"n${rng.nextInt(n)}"))
    base ++ base.take(m / 20) ++ base.take(m / 20).map { case (_, s, d) => ("CALLS", s, d) }
  }

  private def frame(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF("edge_type", "src_key", "dst_key")

  /** A copy with a new object identity, hence a new leaf. */
  private def fresh(df: DataFrame): DataFrame = df.select("*")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Driver-side min-depth BFS: the semantics every traversal must keep. */
  private def refBfs(
      es: Seq[(String, String, String)], legs: Seq[Leg], start: String, depth: Int): Map[String, Int] = {
    val adj = legs.flatMap { case Leg(ts, fwd) =>
      es.filter(e => ts.isEmpty || ts.contains(e._1)).map(e => if (fwd) e._2 -> e._3 else e._3 -> e._2)
    }.groupMap(_._1)(_._2)
    var dist = Map(start -> 0)
    var frontier = Set(start)
    var d = 0
    while (d < depth && frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains)
      dist ++= frontier.map(_ -> (d + 1))
      d += 1
    }
    dist
  }

  private def shuffleWritten(f: => Unit): Long =
    graft.obs.Meter.measure(spark.sparkContext)(f)._2.shuffleBytes

  private val es = edgeRows(n = 400, m = 1600, seed = 7)
  private val edges = frame(es)
  private val start = Seq("n1").toDF("node_key")

  test("forward, reverse, typed, directed-spec and undirected traversals keep their rows") {
    def bfsRows(legs: Seq[Leg], depth: Int): Seq[String] =
      refBfs(es, legs, "n1", depth).toSeq.map { case (k, d) => s"[$k,$d]" }.sorted
    val undirected = bfsRows(Adjacency.Undirected, 4)
    val target = undirected.last.stripPrefix("[").takeWhile(_ != ',')
    val cases: Seq[(String, Seq[String], DataFrame => DataFrame)] = Seq(
      ("forward", bfsRows(Seq(Leg(Nil, true)), 3), e => Query.expand(e, start, 3)),
      ("reverse", bfsRows(Seq(Leg(Nil, false)), 3), e => Query.expand(e, start, 3, reverse = true)),
      ("typed", bfsRows(Seq(Leg(Seq("CALLS", "OPERAND"), true)), 3),
        e => Query.expand(e, start, 3, Seq("CALLS", "OPERAND"))),
      ("directed", bfsRows(Seq(Leg(Seq("CALLS"), true), Leg(Seq("OPERAND"), false)), 3),
        e => Query.expandDirected(e, start, 3, Seq("CALLS" -> true, "OPERAND" -> false))),
      ("undirected", undirected.filter(_.startsWith(s"[$target,")),
        e => Query.shortestDist(e, start, target, 4))
    )
    cases.foreach { case (name, expected, run) =>
      assert(expected.nonEmpty, name)
      assert(rows(run(edges)) == expected, name)
      assert(rows(run(edges)) == expected, s"$name, served from the resident leaf")
      assert(rows(run(fresh(edges))) == expected, s"$name, on a fresh copy of the frame")
    }
  }

  test("shortestPath and repoMap keep their rows over a resident leaf") {
    val dist = refBfs(es, Adjacency.Undirected, "n1", 4)
    val target = dist.collectFirst { case (k, 3) => k }.get
    val path = rows(Query.shortestPath(edges, "n1", target, 4))
    assert(path == rows(Query.shortestPath(edges, "n1", target, 4)))
    assert(path == rows(Query.shortestPath(fresh(edges), "n1", target, 4)))
    assert(path.size == 1 && path.head.endsWith(",3]"), path)

    val nodes = (0 until 400)
      .map(i => (s"n$i", if (i == 1) "Corpus" else "Turn", f"name$i%03d"))
      .toDF("node_key", "node_type", "name")
    val map = rows(Query.repoMap(nodes, edges, 2))
    assert(map.nonEmpty)
    assert(map == rows(Query.repoMap(nodes, edges, 2)))
    assert(map == rows(Query.repoMap(nodes, fresh(edges), 2)))
  }

  test("a 19-level walk crosses the level loop's compaction and keeps its rows") {
    // a 20-node CONTAINS chain c0 -> c1 -> ... -> c19: the union of levels
    // is compacted after levels 8 and 16
    val n = 20
    val chain = frame((0 until n - 1).map(i => ("CONTAINS", s"c$i", s"c${i + 1}")))
    def prefix(i: Int, sep: String, name: Int => String) = (0 to i).map(name).mkString(sep)
    assert(rows(Query.expand(chain, Seq("c0").toDF("node_key"), n - 1)) ==
      (0 until n).map(i => s"[c$i,$i]").sorted)
    assert(rows(Query.shortestPath(chain, "c0", s"c${n - 1}", n - 1)) ==
      Seq(s"[${prefix(n - 1, "->", j => s"c$j")},${n - 1}]"))

    val nodes = (0 until n)
      .map(i => (s"c$i", if (i == 0) "Corpus" else "Turn", s"m$i"))
      .toDF("node_key", "node_type", "name")
    val map = Query.repoMap(nodes, chain, n - 1)
    val leaves = map.queryExecution.analyzed.collectLeaves().size
    assert(leaves <= 9, s"a ${n - 1}-level repoMap plan holds $leaves leaves")
    assert(rows(map) == (0 until n).map { i =>
      s"[${prefix(i, "/", j => s"m$j")},${"  " * i}${if (i == 0) "Corpus" else "Turn"} m$i]"
    }.sorted)
  }

  test("a repeat expand over the same edge frame shuffles frontier-sized data") {
    val big = frame(edgeRows(n = 20000, m = 40000, seed = 11))
    val firstBytes = shuffleWritten(Query.expand(big, start, 2).count())
    val againBytes = shuffleWritten(Query.expand(big, start, 2).count())
    assert(againBytes * 100 < firstBytes, s"repeat wrote $againBytes B, first $firstBytes B")
  }

  test("a leaf whose blocks are lost is recomputed, not failed") {
    val e = fresh(edges)
    val expected = rows(Query.expand(e, start, 3))
    val rdd = GraftTestHooks.leafRdd(Adjacency.leaf(e, Seq(Leg(Nil, true))))
    assert(GraftTestHooks.cachedPartitions(rdd) > 0)
    GraftTestHooks.dropBlocks(rdd)
    assert(GraftTestHooks.cachedPartitions(rdd) == 0)
    assert(rows(Query.expand(e, start, 3)) == expected)
    assert(rows(Query.expand(e, start, 3)) == expected)
    // the contrast: a localCheckpoint leaf cannot come back from the same loss
    val ckpt = e.repartition(col("src_key")).localCheckpoint()
    GraftTestHooks.dropBlocks(GraftTestHooks.leafRdd(ckpt))
    intercept[Exception](ckpt.collect())
  }

  test("frames with the same schema but different rows never share a leaf") {
    val a = frame(Seq(("CALLS", "n1", "a1"), ("CALLS", "a1", "a2")))
    val b = frame(Seq(("CALLS", "n1", "b1")))
    assert(rows(Query.expand(a, start, 3)) == Seq("[a1,1]", "[a2,2]", "[n1,0]"))
    assert(rows(Query.expand(b, start, 3)) == Seq("[b1,1]", "[n1,0]"))
    assert(Adjacency.leaf(a, Seq(Leg(Nil, true))) ne Adjacency.leaf(b, Seq(Leg(Nil, true))))

    // equal PLANS, different rows: two reads of one path around an overwrite
    val dir = tempDir("adjacency")
    frame(Seq(("CALLS", "n1", "p1"))).write.mode("overwrite").parquet(dir)
    assert(rows(Query.expand(spark.read.parquet(dir), start, 2)) == Seq("[n1,0]", "[p1,1]"))
    frame(Seq(("CALLS", "n1", "q1"))).write.mode("overwrite").parquet(dir)
    assert(rows(Query.expand(spark.read.parquet(dir), start, 2)) == Seq("[n1,0]", "[q1,1]"))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("a dropped edge frame releases its leaf") {
    // built in a method so no local of this frame outlives the call
    def build(): (WeakReference[DataFrame], WeakReference[DataFrame]) = {
      val e = frame(Seq(("CALLS", "n1", "x1")))
      Query.expand(e, start, 1).count()
      (new WeakReference(e), new WeakReference(Adjacency.leaf(e, Seq(Leg(Nil, true)))))
    }
    val (frameRef, leafRef) = build()
    var tries = 0
    while ((frameRef.get != null || leafRef.get != null) && tries < 100) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(frameRef.get == null, "the memo must not keep the edge frame alive")
    assert(leafRef.get == null, "the leaf must become unreachable once its frame is gone")
  }

  test("a BFS level costs one job: expand, shortestPath and repoMap") {
    val e = fresh(edges)
    Query.expand(e, start, 1).count() // warm the forward leaf
    (1 to 4).foreach { d =>
      assert(refBfs(es, Seq(Leg(Nil, true)), "n1", d).values.max == d, s"level $d is empty")
      // one job per level that another level follows; the caller's count
      // materializes the last level
      val loopJobs = jobsRun(Query.expand(e, start, d))
      assert(loopJobs == d - 1, s"expand at depth $d ran $loopJobs jobs")
      val jobs = jobsRun(Query.expand(e, start, d).count())
      assert(jobs <= d + 1, s"expand(...).count() at depth $d ran $jobs jobs")
    }

    val dist = refBfs(es, Adjacency.Undirected, "n1", 4)
    val target = dist.collectFirst { case (k, 3) => k }.get
    Query.shortestPath(e, "n1", "n1", 1) // warm the undirected leaf
    // 3 levels; the last level's job also returns the target's path
    val pathJobs = jobsRun(Query.shortestPath(e, "n1", target, 4))
    assert(pathJobs == 3, s"shortestPath ran $pathJobs jobs")

    // a root whose CONTAINS tree has two levels
    val contains = es.filter(_._1 == "CONTAINS")
    val root = (0 until 400).map(i => s"n$i")
      .find(k => refBfs(contains, Seq(Leg(Nil, true)), k, 2).values.max == 2).get
    val nodes = (0 until 400)
      .map(i => (s"n$i", if (s"n$i" == root) "Corpus" else "Turn", f"name$i%03d"))
      .toDF("node_key", "node_type", "name")
    Query.repoMap(nodes, e, 1) // warm the CONTAINS leaf
    var map: DataFrame = null
    val mapJobs = jobsRun { map = Query.repoMap(nodes, e, 2) }
    assert(mapJobs == 1, s"repoMap over 2 levels ran $mapJobs jobs")
    val readJobs = jobsRun(map.count())
    assert(readJobs <= 2, s"counting a repo map ran $readJobs jobs")
  }

  test("a committed build runs its pinned job budget") {
    // One CheckpointedBuild.run over the sf0.001 fixture, 87 jobs. A computed
    // stage's commit path is its snapshot write and nothing more; the jobs
    // each stage's sink call runs, compute included:
    //   transcripts        1  the write
    //   mentions           1  the write (extraction runs inside it)
    //                      2  the local checkpoint of the mention read-back
    //   resolved_calls    23  the resolver's checkpoints and AQE query stages
    //   resolved_entities  2  the write's AQE query stages
    //   api_links          3  the write's AQE query stages
    //   nodes             39  GraphBuild.materialize's checkpoints, canon's
    //                         one driver-path collect, the write's stages
    //   edges             16  the write's AQE query stages
    // A job added to the commit path (an inference read-back, a lineage
    // count, a lineage write, a corpus-identity scan) fails this test.
    val t = SparkTestSession.transcripts
    t.count()
    val dir = tempDir("graft-budget")
    val jobs = jobsRun(graft.pipeline.CheckpointedBuild.run(spark, t, dir, "run-budget"))
    assert(jobs == 87, s"a committed build ran $jobs jobs, against a budget of 87")
  }

  test("overlapping withAqeOff calls on one session restore AQE once the last leaves") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    val aIn, bIn, aOut = new CountDownLatch(1)
    @volatile var seenByB = ""
    def await(l: CountDownLatch): Unit = assert(l.await(30, TimeUnit.SECONDS))
    // the order that lost the setting: A enters, B enters, A leaves, B leaves
    val a = new Thread(() => {
      Query.withAqeOff(spark) { aIn.countDown(); await(bIn) }
      aOut.countDown()
    })
    val b = new Thread(() => {
      await(aIn)
      Query.withAqeOff(spark) { bIn.countDown(); await(aOut); seenByB = spark.conf.get(key) }
    })
    try {
      a.start(); b.start(); a.join(60000); b.join(60000)
      assert(seenByB == "false", "AQE must stay off while a caller is still inside")
      assert(spark.conf.get(key) == "true", "the last caller to leave must restore AQE")
    } finally spark.conf.set(key, prior)
  }
}
