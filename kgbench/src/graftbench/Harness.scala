package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracles, SparkEntry}
import graft.canon.Canon
import graft.checkpoint.{Lineage, SnapshotTable}
import graft.datapipe.Ann
import graft.extract.Mentions
import graft.graphstore.GraphOps
import graft.link.PathNorm
import graft.pipeline.GraphBuild
import graft.query.Query
import graft.resolve.CallResolver
import graft.sources.Transcripts
import graft.util.Ckpt._

/** The benchmark's JVM side. It calls the engine's public functions only;
  * every timing, span and counter is taken around those calls.
  *
  *   sql <out.json>                      oracle SQL the checks run in DuckDB
  *   tracebuild <sf> <out> <runId> <spans.json>
  *                                       build_cold's layer sequence, traced
  *   prepare <sf> <graph>                build and commit the graph serve_mix serves
  *   serve key=value...                  serve_mix's setup, request loop, twins
  *
  * Results go to the file named on the command line; stdout carries only
  * Spark logs.
  */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "sql" :: out :: Nil => writeFile(out, oracleSql().s)
    case "tracebuild" :: sf :: out :: runId :: spans :: Nil => tracedBuild(sf, out, runId, spans)
    case "prepare" :: sf :: graph :: Nil => prepare(sf, graph)
    case "serve" :: kv => serve(opts(kv))
    case _ =>
      System.err.println("usage: Harness sql|tracebuild|prepare|serve ...")
      sys.exit(2)
  }

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing option $k"))
    def int(k: String): Int = apply(k).toInt
    def trace: Boolean = apply("trace") == "1"
  }

  private def opts(kv: List[String]) =
    Opts(kv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)

  /** The session `graft.app.Main` builds: master and driver memory come
    * from spark-submit, shuffle partitions from SPARK_GRAFT_CPUS.
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder().appName("kgbench")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of each live Java thread (the driver, Spark's task and service
    * threads), ns. The JVM's JIT-compiler and GC threads are not reported,
    * so a JIT still compiling the request paths does not count as request
    * cost; a long-running server has paid that once.
    */
  private def threadCpuNs(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Java-thread CPU spent between two [[threadCpuNs]] samples, ns; a thread
    * started in between counts from zero.
    */
  private def cpuSince(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  // ---------------------------------------------------------------- oracles

  /** The SQL the checks run in DuckDB, as one JSON object:
    *  - `graph`: the oracle graph over the `events` view, nodes and edges in
    *    one result (the graph CTE is evaluated once);
    *  - the other entries are query bodies over `nodes` and `edges` tables:
    *    the engine's own oracle SQL with its shared derivation prefix removed,
    *    so they run over whichever graph the checker binds to those names.
    */
  def oracleSql(): Json.Raw = {
    val prefix = Oracles.withGraph("")
    def body(sql: String): String = {
      require(sql.startsWith(prefix), "oracle SQL does not start with the graph derivation")
      val b = sql.stripPrefix(prefix).trim
      // a body that continues the CTE list gets a WITH of its own
      if (b.startsWith(",")) "WITH RECURSIVE kgbench_unused AS (SELECT 1)\n" + b else b
    }
    val graph = Oracles.withGraph("""
      SELECT 'node' AS kind, node_type AS a, node_key AS b, name AS c, conv_id AS d,
             CAST(turn_idx AS VARCHAR) AS e, body AS f FROM nodes
      UNION ALL
      SELECT 'edge', edge_type, src_key, dst_key, strategy,
             CAST(round(confidence, 9) AS VARCHAR), NULL FROM edges""")
    val q = SparkEntry.oracleSql
    Json.obj(
      "graph" -> graph,
      "graph_size" -> body(q("kg_graph_size")),
      "lookup" -> body(q("kg_find_by_name")),
      "search" -> body(q("kg_search")),
      "traverse" -> body(q("kg_subtree")),
      "hybrid" -> body(q("kg_hybrid_search")))
  }

  // ------------------------------------------------------------ build_cold

  /** `CheckpointedBuild.run`'s stage sequence, with each layer's output
    * materialized under the layer's span before the checkpoint layer commits
    * it — so compute and commit get separate spans. That extra
    * materialization is part of the reported tracing overhead; the committed
    * tables must equal the untraced `Main` run's.
    */
  final class Stages(spark: SparkSession, tr: Tracer, baseDir: String, runId: String) {
    def run(stage: String, partitionCol: String, layer: String)(compute: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = tr.span(layer)(compute.lcp())
      commit(stage, partitionCol, df, t0)
    }

    def commit(stage: String, partitionCol: String, df: DataFrame, t0: Long): DataFrame = {
      val table = s"$baseDir/$stage"
      tr.span("checkpoint.commit")(SnapshotTable.commit(df, table, stage))
      val committed = tr.span("checkpoint.read")(SnapshotTable.read(spark, table).get)
      tr.span("checkpoint.lineage") {
        val counts = committed
          .groupBy(col(partitionCol).cast("string").as("pk"))
          .agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (Option(r.getString(0)).getOrElse("null"), r.getLong(1)))
          .toSeq
        Lineage.append(spark, s"$baseDir/_lineage", runId, stage, counts, (System.nanoTime() - t0) / 1000000)
      }
      committed
    }
  }

  def tracedBuild(sf: String, out: String, runId: String, spansOut: String): Unit = {
    val tr = new Tracer(runId, enabled = true)
    val spark = tr.span("spark.session")(session())
    tr.attach(spark.sparkContext)
    val r = new Stages(spark, tr, out, runId)
    val t = r.run("transcripts", "conv_id", "sources")(Transcripts.fromEvents(spark, sf))
    val mentions = r.run("mentions", "mention_type", "extract")(Mentions.extract(t))
    val calls = mentions.where(col("mention_type") === "FunctionCall")
    val defs = mentions.where(col("mention_type") === "FunctionDef")
    val resolvedCalls = r.run("resolved_calls", "strategy", "resolve")(
      CallResolver.resolveCalls(calls, defs, t))
    val resolvedEntities = r.run("resolved_entities", "strategy", "resolve")(
      CallResolver.resolveEntities(spark, mentions.where(col("mention_type") === "Entity")))
    val apiLinks = r.run("api_links", "verb", "link")(
      PathNorm.linkApi(
        mentions.where(col("mention_type") === "Request"),
        mentions.where(col("mention_type") === "Endpoint")))
    val t0 = System.nanoTime()
    val (n, e) = tr.span("pipeline") {
      val g = GraphBuild.buildFromStages(spark, t, mentions, resolvedCalls, resolvedEntities, apiLinks)
      (g.nodes.lcp(), g.edges.lcp())
    }
    val nodes = r.commit("nodes", "node_type", n, t0)
    val edges = r.commit("edges", "edge_type", e, System.nanoTime())
    // Main's closing counts read the committed tables back
    tr.span("checkpoint.read") { nodes.count(); edges.count() }
    val extra0 = System.nanoTime()

    // Canonicalization runs inside GraphBuild; it is timed here by calling
    // Canon on the same input (the distinct canonical names), after the build
    val names = resolvedEntities.select(col("canonical").as("name")).distinct().lcp()
    tr.span("canon")(Canon.clusters(names, 0.3).collect())
    val b = Canon.bands(Canon.shingles(names))
    val candidates = b.as("x").join(b.as("y"), Seq("band_idx", "band_key"))
      .where(col("x.name") < col("y.name"))
      .select(col("x.name"), col("y.name")).distinct().count()
    tr.count("canon.candidate_pairs", candidates.toDouble)
    tr.count("canon.merged_pairs", Canon.candidatePairs(names, 0.3).count().toDouble)
    // the process wall time minus this is comparable with Main's
    val extraMs = ms(extra0)
    val json = tr.toJson()
    spark.stop()
    writeFile(spansOut, Json.obj("trace" -> json, "extra_ms" -> extraMs).s)
  }

  // ------------------------------------------------------------- serve_mix

  /** Draws ranks 0..n-1 with probability proportional to 1/(rank+1)^s. */
  final class Zipf(n: Int, s: Double, rng: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(r => math.pow(r.toDouble, -s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(r.get))

  /** One cycle of the closed-loop mix: 4 lookups, 3 searches, 2 traversals
    * (expand at depth 2 and 3) and 1 hybrid search. Whole cycles keep the
    * class mix exact in every run.
    */
  val Cycle: Seq[Int] = Seq(0, 1, 2, 0, 3, 1, 0, 2, 1, 0)
  /** Request class of each cycle slot, and the span it is traced under. */
  val Labels: Seq[String] = Seq("lookup", "search", "traverse", "hybrid")
  val Spans: Seq[String] = Seq("graphstore.lookup", "query.search", "query.traverse", "query.hybrid")

  /** Zipf exponent of the request keys (an assumption; see README.md). */
  val KeyZipf = 1.1
  /** Untimed request cycles before timing starts; README.md says why. */
  val WarmupCycles = 4

  /** A node a request can name, with the number of edges that point at it. */
  final case class Named(tp: String, name: String, key: String, refs: Long)

  /** The batch build whose committed graph serve_mix serves. */
  def prepare(sf: String, graph: String): Unit = {
    val spark = session()
    val g = GraphBuild.build(spark, Transcripts.fromEvents(spark, sf))
    SnapshotTable.commit(g.nodes, s"$graph/nodes", "nodes")
    SnapshotTable.commit(g.edges, s"$graph/edges", "edges")
    spark.stop()
  }

  def serve(o: Opts): Unit = {
    val tr = new Tracer(o("run_id"), o.trace)
    val spark = session()
    import spark.implicits._
    // the committed graph, read back as a server would
    val graph = o("graph")
    val nodes = SnapshotTable.read(spark, s"$graph/nodes").get
    val edges = SnapshotTable.read(spark, s"$graph/edges").get
    tr.attach(spark.sparkContext)
    val emb = tr.span("query.index_build")(Ann.nodeEmbeddings(nodes).lcp())

    // request parameters: seeded Zipf draws over the graph's names, ranked
    // by how often the graph refers to them (edges pointing at the node), so
    // the hot keys are the entities the corpus mentions most
    val rng = new java.util.Random(o("seed").toLong)
    val refs = edges.groupBy(col("dst_key").as("node_key")).agg(count(lit(1)).as("refs"))
    val named = nodes
      .where(col("node_type").isin("Entity", "Function", "Endpoint", "Tool", "Page", "Conversation"))
      .select("node_type", "name", "node_key").distinct()
      .join(refs, Seq("node_key"), "left")
      .collect().toSeq
      .map(r => Named(r.getAs[String]("node_type"), r.getAs[String]("name"), r.getAs[String]("node_key"),
        Option(r.getAs[java.lang.Long]("refs")).map(_.longValue).getOrElse(0L)))
      .sortBy(n => (-n.refs, n.tp, n.name, n.key)).toIndexedSeq
    // search terms, weighted by the references to the names they occur in
    val terms = named.flatMap(n => n.name.toLowerCase.split("[^a-z0-9]+").filter(_.length > 2).map(_ -> n.refs))
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy { case (t, w) => (-w, t) }.map(_._1).toIndexedSeq
    // traversals start at entities, the graph's subjects
    val entities = named.filter(_.tp == "Entity").map(_.key)
    val zNamed = new Zipf(named.size, KeyZipf, rng)
    val zTerm = new Zipf(terms.size, KeyZipf, rng)
    val zEntity = new Zipf(entities.size, KeyZipf, rng)

    def lookup(tp: String, name: String) =
      GraphOps.findNodesByName(nodes, tp, name).select("node_key", "node_type", "name")
    // as the engine's kg_hybrid_search entry: text hits fused with the
    // node-vector hits around an anchor node, vector hits boosted 1.5x
    def hybrid(term: String, key: String) = Query.rrfFuse(
      Seq((Query.search(nodes, term, 10).select("node_key", "score"), 1.0),
        (Ann.nodeVectorSearchOver(emb, key, 0.0, 10).withColumnRenamed("cos", "score"), 1.5)), 5, 10)

    var expands = 0
    def request(c: Int): Unit = {
      val n = named(zNamed.next())
      c match {
        case 0 => lookup(n.tp, n.name).collect()
        case 1 => Query.search(nodes, terms(zTerm.next()), 10).collect()
        case 2 =>
          expands += 1
          Query.expand(edges, Seq(entities(zEntity.next())).toDF("node_key"), 2 + expands % 2).count()
        case _ => hybrid(terms(zTerm.next()), n.key).collect()
      }
    }

    // untimed warm-up cycles, so the timed requests meet compiled request
    // paths, as in a server that has been up for a while
    tr.active = false
    for (_ <- 0 until WarmupCycles) Cycle.foreach(request)
    val setupEnd = System.currentTimeMillis()

    val reqs = ArrayBuffer.empty[Json.Raw]
    val deadline = System.nanoTime() + o.int("seconds") * 1000000000L
    var cycles = 0
    // trace mode alternates untraced and traced cycles, for the overhead,
    // and runs at least one of each
    val minCycles = if (o.trace) 2 else 1
    while (cycles < minCycles || System.nanoTime() < deadline) {
      tr.active = o.trace && cycles % 2 == 1
      Cycle.foreach { c =>
        val (t0, cpu0) = (System.nanoTime(), threadCpuNs())
        tr.span(Spans(c))(request(c))
        reqs += Json.arr(Seq(Labels(c), ms(t0), cpuSince(cpu0) / 1e6, tr.active))
      }
      cycles += 1
    }
    tr.active = false

    // one fixed-parameter request per class, for the oracle twins
    val pg = lookup("Entity", "postgres").collect().head.getString(0)
    val corpusStart = nodes.where(col("node_type") === "Corpus").select("node_key")
    val twins = Json.obj(
      "lookup" -> rowsOf(lookup("Entity", "postgres")),
      "search" -> rowsOf(Query.search(nodes, "postgres", 10)),
      "traverse" -> rowsOf(Query.expand(edges, corpusStart, 2, Seq("CONTAINS"))),
      "hybrid" -> rowsOf(hybrid("postgres", pg).withColumn("fused_score", round(col("fused_score"), 6))))

    val json = if (o.trace) tr.toJson() else Json.obj()
    spark.stop()
    writeFile(o("out"), Json.obj(
      "setup_end_ms" -> setupEnd.toDouble,
      "requests" -> reqs.toSeq, "twins" -> twins, "trace" -> json).s)
  }
}
