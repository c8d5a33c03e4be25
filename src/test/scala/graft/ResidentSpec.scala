package graft

import java.lang.ref.WeakReference
import org.apache.spark.sql.{Column, DataFrame, GraftTestHooks}
import org.apache.spark.sql.functions._
import graft.graphstore.GraphOps
import graft.query.{Query, Resident}

/** The resident node leaf behind the lookups and search (PLAN_AUDIT.md: one
  * node leaf per node frame, with the edge leaf's lifetime rule). Lookups
  * and search over a memoized leaf must return the rows the parquet-scan
  * code returned; a repeat lookup must cost one job and no new leaf; a leaf
  * must survive losing its blocks; and leaves never cross frames.
  */
class ResidentSpec extends SparkSpec {
  import spark.implicits._

  /** The scans the lookups and search ran over the node frame itself before
    * the node leaf: the reference the leaf-backed operators must match.
    */
  private object Scan {
    def byName(nodes: DataFrame, tp: String, name: String): DataFrame =
      nodes.where(col("node_type") === tp && col("name") === name)
    def nameContains(nodes: DataFrame, tp: String, sub: String): DataFrame =
      nodes.where(col("node_type") === tp && col("name").contains(sub))
    def inRange(nodes: DataFrame, convId: String, lo: Int, hi: Int): DataFrame =
      nodes.where(col("conv_id") === convId && col("turn_idx").between(lo, hi))
    def nameEndsWith(nodes: DataFrame, tp: String, suffix: String): DataFrame =
      nodes.where(col("node_type") === tp && col("name").endsWith(suffix))
    def byType(nodes: DataFrame, tp: String): DataFrame =
      nodes.where(col("node_type") === tp)

    def search(nodes: DataFrame, term: String, limit: Int): DataFrame = {
      val t = lit(term)
      val score =
        when(lower(col("name")) === lower(t), 100).otherwise(0) +
          when(lower(col("name")).startsWith(lower(t)) && lower(col("name")) =!= lower(t), 70)
            .otherwise(0) +
          when(lower(col("name")).contains(lower(t)) && !lower(col("name")).startsWith(lower(t)), 50)
            .otherwise(0) +
          when(lower(col("body")).contains(lower(t)), 25).otherwise(0) +
          when(lower(col("conv_id")).contains(lower(t)), 20).otherwise(0)
      nodes
        .withColumn("score", score.cast("int"))
        .where(col("score") > 0)
        .select("node_key", "node_type", "name", "score")
        .orderBy(col("score").desc, col("node_key"))
        .limit(limit)
    }

    def searchFiltered(nodes: DataFrame, term: String, limit: Int, nodeTypes: Seq[String],
        skipNodeTypes: Seq[String], extensions: Seq[String], includePatterns: Seq[String],
        excludePatterns: Seq[String]): DataFrame = {
      val noFile = col("conv_id").isNull || col("conv_id") === ""
      def anyOf(preds: Seq[Column]): Column = preds.reduce(_ || _)
      val typeOk = if (nodeTypes.isEmpty) lit(true) else col("node_type").isin(nodeTypes: _*)
      val skipOk = if (skipNodeTypes.isEmpty) lit(true) else !col("node_type").isin(skipNodeTypes: _*)
      val extOk =
        if (extensions.isEmpty) lit(true)
        else !noFile && anyOf(extensions.map(e => col("conv_id").endsWith(lit(e))))
      val inclOk =
        if (includePatterns.isEmpty) lit(true)
        else !noFile && anyOf(includePatterns.map(p => col("conv_id").contains(lit(p))))
      val exclOk =
        if (excludePatterns.isEmpty) lit(true)
        else noFile || !anyOf(excludePatterns.map(p => col("conv_id").contains(lit(p))))
      search(nodes.where(typeOk && skipOk && extOk && inclOk && exclOk), term, limit)
    }

    def searchByPagerank(nodes: DataFrame, term: String, limit: Int, ranks: DataFrame): DataFrame = {
      val hits = search(nodes, term, limit)
      val hitRanks = ranks.join(broadcast(hits.select("node_key")), Seq("node_key"), "left_semi")
      hits
        .join(broadcast(hitRanks), Seq("node_key"), "left")
        .withColumn("pagerank", round(coalesce(col("rank"), lit(0.0)), 5))
        .drop("rank")
        .orderBy(col("pagerank").desc, col("score").desc, col("node_key"))
    }
  }

  /** A copy with a new object identity, hence a new leaf. */
  private def fresh(df: DataFrame): DataFrame = df.select("*")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
  private def ordered(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private lazy val graphNodes = SparkTestSession.graph.nodes

  test("lookups and search over the node leaf return the parquet scan's rows") {
    val conv = graphNodes.where(col("node_type") === "Turn")
      .select(min("conv_id")).as[String].first()
    val ranks = graphNodes.select(col("node_key"), (abs(hash(col("node_key"))) % 1000 / 10.0).as("rank"))
    val filters = (Seq("Turn", "Function", "IntegrationTest"), Seq("IntegrationTest"),
      Seq("3", "9"), Seq("-2024"), Seq("conv-00001"))
    // (name, served, reference, ordered): ordered results compare in order
    val cases: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame, Boolean)] = Seq(
      ("byName", GraphOps.findNodesByName(_, "Entity", "postgres"), Scan.byName(_, "Entity", "postgres"), false),
      ("contains", GraphOps.findNodesNameContains(_, "Function", "gres"),
        Scan.nameContains(_, "Function", "gres"), false),
      ("endsWith", GraphOps.findNodesNameEndsWith(_, "Request", "${id}"),
        Scan.nameEndsWith(_, "Request", "${id}"), false),
      ("inRange", GraphOps.findNodeInRange(_, conv, 0, 3), Scan.inRange(_, conv, 0, 3), false),
      ("byType", GraphOps.findNodesByType(_, "Function"), Scan.byType(_, "Function"), false)
    ) ++ Seq("postgres", "PostGres", "handler", "conv-0", "").flatMap { term =>
      Seq(
        (s"search '$term'", Query.search(_: DataFrame, term, 10), Scan.search(_: DataFrame, term, 10), true),
        (s"searchFiltered '$term'",
          (n: DataFrame) => Query.searchFiltered(n, term, 10, filters._1, filters._2, filters._3,
            filters._4, filters._5),
          (n: DataFrame) => Scan.searchFiltered(n, term, 10, filters._1, filters._2, filters._3,
            filters._4, filters._5), true),
        (s"searchByPagerank '$term'", Query.searchByPagerank(_: DataFrame, term, 10, ranks),
          Scan.searchByPagerank(_: DataFrame, term, 10, ranks), true))
    }
    cases.foreach { case (name, served, reference, inOrder) =>
      val read = if (inOrder) ordered _ else rows _
      val expected = read(reference(graphNodes))
      assert(expected.nonEmpty, name)
      assert(served(graphNodes).columns.toSeq == reference(graphNodes).columns.toSeq, name)
      assert(read(served(graphNodes)) == expected, name)
      assert(read(served(graphNodes)) == expected, s"$name, served from the resident leaf")
      assert(read(served(fresh(graphNodes))) == expected, s"$name, on a fresh copy of the frame")
    }
  }

  test("a repeat lookup over the same node frame runs one job and builds no leaf") {
    val n = fresh(graphNodes)
    val first = rows(GraphOps.findNodesByName(n, "Entity", "postgres"))
    val leaf = Resident.nodes(n)
    var again = Seq.empty[String]
    val jobs = jobsRun { again = rows(GraphOps.findNodesByName(n, "Entity", "kafka")) }
    assert(jobs == 1, s"a repeat lookup ran $jobs jobs")
    assert(again.nonEmpty && again != first)
    assert(Resident.nodes(n) eq leaf, "a repeat lookup must reuse the frame's leaf")
  }

  test("two reads of one parquet path around an overwrite never share a node leaf") {
    val dir = tempDir("resident")
    def write(name: String): Unit =
      Seq(("k", "Entity", name, "", "")).toDF("node_key", "node_type", "name", "body", "conv_id")
        .write.mode("overwrite").parquet(dir)
    def names(nodes: DataFrame): Seq[String] =
      Query.search(nodes, "pg", 10).select("name").as[String].collect().toSeq
    write("pg-old")
    val before = spark.read.parquet(dir)
    assert(names(before) == Seq("pg-old"))
    write("pg-new")
    val after = spark.read.parquet(dir)
    assert(names(after) == Seq("pg-new"))
    assert(rows(GraphOps.findNodesByType(after, "Entity")) == Seq("[k,Entity,pg-new,,]"))
    assert(Resident.nodes(before) ne Resident.nodes(after))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("a dropped node frame releases its leaf") {
    // built in a method so no local of this frame outlives the call
    def build(): (WeakReference[DataFrame], WeakReference[DataFrame]) = {
      val n = Seq(("k", "Entity", "x")).toDF("node_key", "node_type", "name")
      GraphOps.findNodesByName(n, "Entity", "x").count()
      (new WeakReference(n), new WeakReference(Resident.nodes(n)))
    }
    val (frameRef, leafRef) = build()
    var tries = 0
    while ((frameRef.get != null || leafRef.get != null) && tries < 100) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(frameRef.get == null, "the memo must not keep the node frame alive")
    assert(leafRef.get == null, "the leaf must become unreachable once its frame is gone")
  }

  test("a node leaf whose blocks are removed is recomputed, not failed") {
    val n = fresh(graphNodes)
    val lookup = rows(GraphOps.findNodesByName(n, "Entity", "postgres"))
    val hits = ordered(Query.search(n, "postgres", 10))
    val rdd = GraftTestHooks.leafRdd(Resident.nodes(n))
    assert(GraftTestHooks.cachedPartitions(rdd) > 0)
    GraftTestHooks.dropBlocks(rdd)
    assert(GraftTestHooks.cachedPartitions(rdd) == 0)
    assert(rows(GraphOps.findNodesByName(n, "Entity", "postgres")) == lookup)
    assert(ordered(Query.search(n, "postgres", 10)) == hits)
  }
}
