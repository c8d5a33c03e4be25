package graft

import org.apache.spark.sql.functions._
import graft.query.Query
import graft.graphstore.GraphOps

/** Query/serving operators (reference §2.G) on a hand-built fixture graph
  * where expected results are computable by eye, plus structural properties
  * on the sf0.001 graph.
  */
class QuerySpec extends SparkSpec {

  test("G17: raw SQL write-denylist rejects DDL and DML, allows SELECT") {
    import graft.query.Query
    SparkTestSession.graph.nodes.createOrReplaceTempView("wd_nodes")
    assert(Query.rawSql(spark, "SELECT count(*) AS n FROM wd_nodes").count() == 1)
    // allowlist must not over-reject real read shapes: CTE + window +
    // expression subquery + set-op
    assert(Query.rawSql(spark,
      """WITH c AS (SELECT node_key, row_number() OVER (ORDER BY node_key) rn FROM wd_nodes)
        |SELECT * FROM c WHERE rn <= (SELECT count(*) FROM wd_nodes)
        |UNION ALL SELECT node_key, 0 FROM wd_nodes LIMIT 5""".stripMargin).count() >= 1)
    Seq(
      "DROP TABLE wd_nodes",
      "CREATE TABLE wd_t (i INT) USING parquet",
      "INSERT INTO wd_nodes SELECT * FROM wd_nodes",
      "DELETE FROM wd_nodes WHERE 1=1",
      "UPDATE wd_nodes SET name = 'x'",
      // deny-by-default: EXECUTE IMMEDIATE parses to a plain LogicalPlan
      // (not Command) in Spark 4, so a denylist would have executed it
      "EXECUTE IMMEDIATE 'DROP TABLE wd_nodes'",
      "SELECT * FROM wd_nodes; DROP TABLE wd_nodes"
    ).foreach { sql =>
      intercept[Exception](Query.rawSql(spark, sql))
    }
  }
  import spark.implicits._

  //     a -> b -> c -> d        (CALLS)
  //     a -> e                   (CONTAINS)
  private val edges = Seq(
    ("CALLS", "a", "b"), ("CALLS", "b", "c"), ("CALLS", "c", "d"),
    ("CONTAINS", "a", "e")
  ).toDF("edge_type", "src_key", "dst_key")
    .withColumn("confidence", lit(1.0))
    .withColumn("strategy", lit("t"))

  test("expand: depth-bounded BFS with min-depth semantics") {
    val out = Query
      .expand(edges, Seq("a").toDF("node_key"), depth = 2)
      .as[(String, Int)].collect().toMap
    assert(out == Map("a" -> 0, "b" -> 1, "e" -> 1, "c" -> 2))
  }

  test("expand with edge-type filter and reverse direction") {
    val fwd = Query.expand(edges, Seq("a").toDF("node_key"), 3, Seq("CALLS"))
      .as[(String, Int)].collect().toMap
    assert(fwd == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    val rev = Query.expand(edges, Seq("d").toDF("node_key"), 2, Seq("CALLS"), reverse = true)
      .as[(String, Int)].collect().toMap
    assert(rev == Map("d" -> 0, "c" -> 1, "b" -> 2))
  }

  test("shortestDist finds the undirected minimum distance") {
    val d = Query.shortestDist(edges, Seq("e").toDF("node_key"), "c", 5)
      .as[(String, Int)].collect()
    assert(d.length == 1 && d.head._2 == 3) // e -a- b - c undirected
  }

  test("pagerank: ranks sum to N and a sink outranks sources on a chain") {
    val nodes = Seq("a", "b", "c", "d", "e").toDF("node_key")
    val pr = Query.pagerank(nodes, edges.where(col("edge_type") === "CALLS"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 5.0) < 1e-6, s"ranks must sum to N, got ${pr.values.sum}")
    assert(pr("d") > pr("a"), "chain sink accumulates rank")
    assert(pr("c") > pr("b"), "downstream accumulates more")
  }

  test("pagerank on the sf0.001 projected graph: mass conserved, no NaN") {
    val g = SparkTestSession.graph
    val proj = g.nodes.where(col("node_type").isin("Request", "Endpoint", "Function"))
    val keys = proj.select("node_key")
    val pe = g.edges
      .where(col("edge_type").isin("CALLS", "HANDLER"))
      .join(keys.withColumnRenamed("node_key", "src_key"), Seq("src_key"), "left_semi")
      .join(keys.withColumnRenamed("node_key", "dst_key"), Seq("dst_key"), "left_semi")
    val pr = Query.pagerank(proj, pe, iters = 5)
    val n = proj.count().toDouble
    val s = pr.agg(sum("rank")).as[Double].head()
    assert(math.abs(s - n) / n < 1e-6, s"mass drift: $s vs $n")
    assert(pr.where(col("rank").isNull || isnan(col("rank"))).isEmpty)
  }

  test("search scoring: exact name beats prefix beats contains; stable top-k") {
    val nodes = Seq(
      ("Entity", "postgres", "", "", "k1"),
      ("Entity", "postgresql", "", "", "k2"),
      ("Entity", "my-postgres-db", "", "", "k3"),
      ("Entity", "kafka", "postgres mentioned in body", "", "k4"),
      ("Entity", "redis", "", "", "k5")
    ).toDF("node_type", "name", "body", "conv_id", "node_key")
    val out = Query.search(nodes, "postgres", 10)
      .select("node_key", "score").as[(String, Int)].collect().toSeq
    assert(out == Seq(("k1", 100), ("k2", 70), ("k3", 50), ("k4", 25)))
  }

  test("graph ops: filteredGraph keeps only edges with both endpoints kept") {
    val g = SparkTestSession.graph
    val convs = SparkTestSession.transcripts.select("conv_id").distinct().limit(3)
    val (kn, ke) = GraphOps.filteredGraph(g.nodes, g.edges, convs)
    val keys = kn.select("node_key")
    val dangling = ke
      .join(keys.withColumnRenamed("node_key", "src_key"), Seq("src_key"), "left_anti")
    assert(dangling.isEmpty)
  }

  test("D20 removeNode: drops exactly the node and its incident edges") {
    val nodes = Seq("a", "b", "c", "d", "e").toDF("node_key")
    val (kn, ke) = GraphOps.removeNode(nodes, edges, "b")
    assert(kn.as[String].collect().toSet == Set("a", "c", "d", "e"))
    // a->b and b->c go; c->d and a->e survive
    assert(ke.select("src_key", "dst_key").as[(String, String)].collect().toSet ==
      Set(("c", "d"), ("a", "e")))
    // removing an absent key is a no-op
    val (kn2, ke2) = GraphOps.removeNode(nodes, edges, "zzz")
    assert(kn2.count() == 5 && ke2.count() == 4)
  }

  test("G14 mockInventory: counts unverified USES per Mock, paginated") {
    // two mocks with 2 and 1 unverified calls, one with none; a verified
    // USES edge and a CALLS edge must not count. Each Mock names the stub
    // it stands in for by its OF edge (strategy mock_of), as the build emits
    val mocks = Seq("alpha", "beta", "gamma")
      .toDF("name")
      .withColumn("node_type", lit("Mock"))
      .withColumn("node_key", concat(lit("mock|"), col("name")))
    val mkEdges = Seq(
      ("OF", "mock|alpha", "stub|alpha", "mock_of"),
      ("OF", "mock|beta", "stub|beta", "mock_of"),
      ("OF", "mock|gamma", "stub|gamma", "mock_of"),
      ("USES", "t1", "stub|alpha", "unverified"),
      ("USES", "t2", "stub|alpha", "unverified"),
      ("USES", "t3", "stub|beta", "unverified"),
      ("USES", "t4", "stub|gamma", "verified"), // wrong strategy: excluded
      ("CALLS", "t5", "stub|alpha", "unverified") // wrong edge type: excluded
    ).toDF("edge_type", "src_key", "dst_key", "strategy")
    val out = Query.mockInventory(mocks, mkEdges, 0, 10)
      .select("name", "n_calls", "rn").as[(String, Long, Int)].collect().toSeq
    assert(out == Seq(("alpha", 2L, 1), ("beta", 1L, 2), ("gamma", 0L, 3)))
    // pagination: offset skips the head deterministically
    val page = Query.mockInventory(mocks, mkEdges, 1, 1)
      .select("name").as[String].collect().toSeq
    assert(page == Seq("beta"))
  }

  test("G3 searchFiltered: the five reference filter families compose") {
    val sn = Seq(
      // node_key, node_type, name, body, conv_id
      ("k1", "Turn", "postgres", "", "c-2024.3"),
      ("k2", "Turn", "postgres", "", "c-2024.5"), // ext filter drops (no 3/9 suffix)
      ("k3", "Function", "postgres", "", "c-2024.9"),
      ("k4", "IntegrationTest", "postgres", "", "c-2024.3"), // skip list drops
      ("k5", "Turn", "postgres", "", "x.3"), // include-pattern drops (no -2024)
      ("k6", "Turn", "postgres", "", "bad-2024.3"), // exclude-pattern drops
      ("k7", "Page", "postgres", "", "c-2024.3"), // type list drops
      ("k8", "Turn", "nomatch", "", "c-2024.3") // score 0 drops
    ).toDF("node_key", "node_type", "name", "body", "conv_id")
    val out = Query.searchFiltered(sn, "postgres", 10,
      nodeTypes = Seq("Turn", "Function", "IntegrationTest"),
      skipNodeTypes = Seq("IntegrationTest"),
      extensions = Seq("3", "9"),
      includePatterns = Seq("-2024"),
      excludePatterns = Seq("bad")
    ).select("node_key").as[String].collect().toSet
    assert(out == Set("k1", "k3"))
    // all-empty filters = plain search
    val plain = Query.searchFiltered(sn, "postgres", 10).count()
    assert(plain == Query.search(sn, "postgres", 10).count())
  }

  test("G7 fileMap: min-conv suffix match, depth-1 render with token counts") {
    val fn = Seq(
      ("cA", "Conversation", "convA", null.asInstanceOf[String], "conv-02-x"),
      ("cB", "Conversation", "convB", null.asInstanceOf[String], "conv-01-x"), // min conv_id wins
      ("t1", "Turn", "t1", "three word body", "conv-01-x"),
      ("t2", "Turn", "t2", "  ", "conv-01-x"), // blank body -> 0 tokens
      ("t3", "Turn", "t3", "other conv", "conv-02-x")
    ).toDF("node_key", "node_type", "name", "body", "conv_id")
    val fe = Seq(
      ("CONTAINS", "cB", "t1"), ("CONTAINS", "cB", "t2"), ("CONTAINS", "cA", "t3")
    ).toDF("edge_type", "src_key", "dst_key")
    val out = Query.fileMap(fn, fe, "-x")
      .orderBy("sort_path").as[(String, String)].collect().toSeq
    assert(out == Seq(
      ("convB", "Conversation convB (0)"),
      ("convB/t1", "  Turn t1 (3)"),
      ("convB/t2", "  Turn t2 (0)")
    ))
    // no match -> empty, not an error
    assert(Query.fileMap(fn, fe, "-nope").count() == 0)
  }

  test("G3 searchByPagerank: relevance top-k first, then pagerank re-sort") {
    val sn = Seq(
      ("k1", "Function", "x_handler", "", ""), // contains -> 50
      ("k2", "Function", "y_handler", "", ""), // contains -> 50
      ("k3", "Function", "handler", "", ""), // exact -> 100
      ("k4", "Turn", "t", "calls a handler", ""), // body -> 25, cut by limit 3
      ("k5", "Page", "nope", "", "") // score 0
    ).toDF("node_key", "node_type", "name", "body", "conv_id")
    val ranks = Seq(("k1", 0.9), ("k2", 2.5), ("k9", 7.0)).toDF("node_key", "rank")
    val out = Query.searchByPagerank(sn, "handler", 3, ranks)
      .select("node_key", "pagerank").as[(String, Double)].collect().toSeq
    // k3 (score 100) has no rank -> 0; k2 rank 2.5 sorts first, then k1 0.9
    assert(out == Seq(("k2", 2.5), ("k1", 0.9), ("k3", 0.0)))
  }

  test("rulesFiles: pattern disjunction, empty-body drop, scalar total") {
    val sn = Seq(
      ("k1", "Turn", "turn-0", "rules body", "conv-1"), // name suffix arm
      ("k2", "Turn", "turn-3", "other", "c-ai-x"), // path contains arm
      ("k3", "Turn", "turn-0", "  ", "conv-2"), // blank body dropped
      ("k4", "Turn", "README.MD", "readme", "conv-3"), // lower suffix arm
      ("k5", "Function", "turn-0", "f", "conv-4"), // not a Turn
      ("k6", "Turn", "turn-5", "no match", "conv-5")
    ).toDF("node_key", "node_type", "name", "body", "conv_id")
    val out = Query.rulesFiles(sn, Seq("-0"), Seq("-ai-"), Seq("readme.md"))
      .select("node_key", "render", "files_found")
      .as[(String, String, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq("k1", "k2", "k4"))
    assert(out.forall(_._3 == 3L))
    assert(out.head._2 == "File: turn-0\n Content: \n rules body\n")
  }

  test("nodeWithRelated: hub seed, 1-hop ego set, induced edges only") {
    // degrees: a=2 b=2 c=2 d=1 e=1 — tie broken by key asc → seed "a";
    // ego = {a} ∪ nbrs(a) = {a,b,e}; induced = a→b, a→e (b→c drops: c ∉ ego)
    val nodes = Seq(
      ("a", "Function", "fa"), ("b", "Function", "fb"), ("c", "Function", "fc"),
      ("d", "Function", "fd"), ("e", "Turn", "te")
    ).toDF("node_key", "node_type", "name")
    val out = Query.nodeWithRelated(nodes, edges)
    val nodeKeys = out.where(col("kind") === "node")
      .select("node_key").as[String].collect().toSet
    assert(nodeKeys == Set("a", "b", "e"))
    val edgePairs = out.where(col("kind") === "edge")
      .select("edge_type", "src_key", "dst_key")
      .as[(String, String, String)].collect().toSet
    assert(edgePairs == Set(("CALLS", "a", "b"), ("CONTAINS", "a", "e")))
  }

  test("coverageByKind: per-tier targets, line stats from Turn bodies, mock row") {
    val nodes = Seq(
      ("Turn", "tk1", "t", "c1", 0, "l1\nl2\nl3", Map.empty[String, String]),
      ("Function", "f1", "fa", "c1", 0, "", Map.empty[String, String]), // 3 lines
      ("Function", "f2", "fb", "c9", 9, "", Map.empty[String, String]), // no turn: 0 lines
      ("Page", "p1", "orders", "", -1, "", Map.empty[String, String]),
      ("UnitTest", "u1", "ut", "c1", 1, "", Map.empty[String, String]),
      ("E2etest", "e1", "et", "c1", 2, "", Map.empty[String, String]),
      ("Mock", "m1", "mk", "", -1, "", Map.empty[String, String]),
      ("Mock", "m2", "mk2", "", -1, "", Map.empty[String, String])
    ).toDF("node_type", "node_key", "name", "conv_id", "turn_idx", "body", "meta")
    val edges = Seq(
      ("CALLS", "u1", "f1"), // unit covers f1 (3 of 3 lines)
      ("CALLS", "e1", "p1"), // e2e covers the page
      ("OF", "m1", "f1"),    // m1 mocked: its target f1 is test-touched
      ("OF", "m2", "f2")     // m2 not: f2 untouched
    ).toDF("edge_type", "src_key", "dst_key")
    val rows = Query.coverageByKind(nodes, edges)
      .select("kind", "total", "total_tests", "covered", "percent",
        "total_lines", "covered_lines", "line_percent")
      .as[(String, Long, Long, Long, Double, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows("unit_tests") == (("unit_tests", 2L, 1L, 1L, 50.0, 3L, 3L, 100.0)))
    assert(rows("integration_tests") == (("integration_tests", 2L, 0L, 0L, 0.0, 3L, 0L, 0.0)))
    assert(rows("e2e_tests") == (("e2e_tests", 1L, 1L, 1L, 100.0, 0L, 0L, 0.0)))
    assert(rows("mocks") == (("mocks", 2L, 0L, 1L, 50.0, 0L, 0L, 0.0)))
  }

  test("rrfFuseWithProvenance: fused scores match rrfFuse, pivots carry source ranks") {
    val text = Seq(("a", 100.0), ("b", 50.0)).toDF("node_key", "score")
    val vec = Seq(("b", 0.9), ("c", 0.8)).toDF("node_key", "score")
    val fused = Query.rrfFuse(Seq((text, 1.0), (vec, 1.5)), 5, 10)
      .select("node_key", "fused_score").as[(String, Double)].collect().toMap
    val prov = Query.rrfFuseWithProvenance(
      Seq(("fulltext", text, 1.0), ("vector", vec, 1.5)), 5, 10)
    val rows = prov
      .select("node_key", "fused_score", "sources", "fulltext_rank", "vector_rank")
      .as[(String, Double, String, Option[Int], Option[Int])]
      .collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == fused.keySet)
    rows.values.foreach { case (k, s, _, _, _) => assert(math.abs(s - fused(k)) < 1e-12) }
    assert(rows("a")._3 == "fulltext" && rows("a")._4.contains(1) && rows("a")._5.isEmpty)
    assert(rows("b")._3 == "fulltext,vector" && rows("b")._4.contains(2) && rows("b")._5.contains(1))
    assert(rows("c")._3 == "vector" && rows("c")._4.isEmpty && rows("c")._5.contains(2))
  }

  test("coverage ratio is consistent with uncalledFunctions") {
    val g = SparkTestSession.graph
    val cov = Query.coverage(g.nodes, g.edges)
      .select("total_functions", "called_functions", "test_covered_functions")
      .as[(Long, Long, Long)].head()
    val uncalled = GraphOps.uncalledFunctions(g.nodes, g.edges).count()
    assert(cov._1 - cov._2 == uncalled)
    assert(cov._3 <= cov._2, "test-covered functions are a subset of called functions")
  }

  test("coverageNodes: distinct test callers, filters, offset pagination") {
    val nodes = Seq(
      ("Function", "f1", "fa", "l1\nl2"), // 2 tests
      ("Function", "f2", "fb", ""),       // 1 test
      ("Function", "f3", "fc", "x"),      // untested
      ("UnitTest", "u1", "ut", ""), ("E2etest", "e1", "et", ""),
      ("Turn", "t1", "tt", "")
    ).toDF("node_type", "node_key", "name", "body")
    val edges = Seq(
      ("CALLS", "u1", "f1"), ("CALLS", "e1", "f1"),
      ("CALLS", "u1", "f1"), // duplicate edge: callers counted DISTINCT
      ("CALLS", "u1", "f2"),
      ("CALLS", "t1", "f3")  // non-test caller must not count
    ).toDF("edge_type", "src_key", "dst_key")
    val all = Query.coverageNodes(nodes, edges, "Function", "all", 0, 10)
      .select("node_key", "test_count", "line_count")
      .as[(String, Long, Long)].collect()
    assert(all.map(r => r._1 -> r._2).toMap == Map("f1" -> 2L, "f2" -> 1L, "f3" -> 0L))
    assert(all.head._1 == "f1" && all.head._3 == 2L, "ordered by test_count desc; 2 lines")
    val untested = Query.coverageNodes(nodes, edges, "Function", "untested", 0, 10)
      .select("node_key").as[String].collect().toSeq
    assert(untested == Seq("f3"))
    val page2 = Query.coverageNodes(nodes, edges, "Function", "tested", 1, 1)
      .select("node_key").as[String].collect().toSeq
    assert(page2 == Seq("f2"), "offset=1 limit=1 of the tested list")
  }
}
