package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Ckpt._

/** Query/serving operators over the materialized graph (reference §2.G:
  * the Neo4j Cypher + TS layer + CLI, re-expressed as DataFrame programs).
  * Iterative operators (BFS expansion, PageRank) are driver loops over
  * DataFrames with localCheckpoint() per iteration to truncate lineage —
  * the Spark analog of APOC expandConfig / GDS pagerank. A BFS level costs
  * one Spark job: the level is a lazy checkpoint, and the full aggregate
  * that answers the loop test is what materializes it. A last level has no
  * loop test; the caller's action materializes it.
  */
object Query {

  /** Iterative driver loops run with AQE scoped OFF (restored after): their
    * loop inputs are materialized leaves of KNOWN size and fixed
    * partitioning, so runtime re-planning has nothing to learn, while AQE's
    * per-query-stage materialization adds ~5 sequential scheduling barriers
    * PER ITERATION (measured: pagerank 20 iterations ~350 ms/iter with AQE,
    * the per-iteration data being ~140k rows). AQE-off also lets
    * localCheckpoint capture the true hash partitioning of the
    * pre-partitioned loop inputs (under AQE the checkpoint sees the
    * AdaptiveSparkPlan wrapper and records UnknownPartitioning), which is
    * what makes the per-iteration joins exchange-free. One-shot queries keep
    * AQE on — runtime re-planning stays the production default.
    *
    * Overlapping calls on one session (a server with two clients) nest: the
    * first to enter saves the setting and turns AQE off, the last to leave
    * restores it. The lock guards only that count, never the body.
    */
  private[graft] def withAqeOff[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    aqeOff.synchronized {
      val (n, saved) = aqeOff.getOrElse(spark, (0, null: String))
      if (n == 0) {
        aqeOff(spark) = (1, spark.conf.get(key))
        spark.conf.set(key, "false")
      } else aqeOff(spark) = (n + 1, saved)
    }
    try f
    finally aqeOff.synchronized {
      val (n, saved) = aqeOff(spark)
      if (n > 1) aqeOff(spark) = (n - 1, saved)
      else {
        aqeOff.remove(spark)
        spark.conf.set(key, saved)
      }
    }
  }

  // session -> (callers inside withAqeOff, the setting the first one saved)
  private val aqeOff = scala.collection.mutable.Map.empty[SparkSession, (Int, String)]

  /** G6 get_subtree / G12 deps/impact: depth-bounded frontier expansion from
    * `start` keys following `edgeTypes` (reversed for impact). Returns
    * (node_key, depth) with BFS min-depth semantics.
    * (mcp/src/graph/queries.ts:616-759; cli/src/deps.rs:247, impact.rs:482)
    *
    * The step relation is the [[Adjacency]] leaf of `edges` for this spec:
    * hash-partitioned on the join key ONCE per edge frame per process, and
    * reused by every later traversal over the same frame object (it lives
    * as long as the caller holds that frame). A call pays one exchange for
    * the leaf only the first time; after that only frontier-sized data moves.
    * Each level costs one Spark job, so over a resident leaf a depth-d call
    * runs at most d - 1 jobs, and the caller's action on the result
    * materializes the last level.
    */
  def expand(
      edges: DataFrame,
      start: DataFrame, // single column node_key
      depth: Int,
      edgeTypes: Seq[String] = Nil,
      reverse: Boolean = false
  ): DataFrame =
    bfs(Adjacency.leaf(edges, Seq(Adjacency.Leg(edgeTypes, forward = !reverse))), start, depth)

  /** Min-depth BFS of `start` over a resident (from, to) leaf. The start and
    * every level are LAZY checkpoints: one job per level both materializes
    * the level and counts it for the loop test. The test is a full
    * aggregate, never `take(1)`/`head`: those read partitions incrementally
    * and would leave a lazy checkpoint partly computed, for a job of its own
    * to fill in. The level at `depth` needs no test, so it stays lazy until
    * the caller's action reads it.
    */
  private def bfs(leaf: DataFrame, start: DataFrame, depth: Int): DataFrame = withAqeOff(leaf.sparkSession) {
    var visited = start.select(col("node_key"), lit(0).as("depth"))
      .repartition(col("node_key")).lcp(eager = false)
    var frontier = visited
    var more = true
    var d = 0
    while (d < depth && more) {
      // shuffled-hash: build on the (small) frontier, STREAM the
      // pre-partitioned edge leaf — no per-level sort of |E|
      val next = frontier
        .hint("shuffle_hash")
        .join(leaf, frontier("node_key") === leaf("from"))
        .select(col("to").as("node_key"))
        .distinct() // on node_key alone (depth is constant this level), so
        // the dedup shuffle lands on hash(node_key) and the anti-join below
        // plus the NEXT level's edge join both line up exchange-free
        .withColumn("depth", lit(d + 1))
        // hash, never broadcast: a small visited set would otherwise be
        // broadcast, a job of its own per level, where the hash join reads
        // it inside the level's one job
        .join(visited.select("node_key").hint("shuffle_hash"), Seq("node_key"), "left_anti")
        .lcp(eager = false) // truncate iterative lineage (SURVEY.md §7.5)
      // the level's one job, where another level could follow (an empty
      // start ends here)
      more = d + 1 < depth && next.count() > 0
      // visited accumulates as a LAZY union of the per-level checkpoints —
      // re-checkpointing it each level would rewrite the whole visited set
      // (O(depth x |visited|) materialized rows); the anti-join above scans
      // the <= depth checkpointed leaves instead, which is strictly less
      // work. For DEEP expansions the union would still grow the logical
      // plan quadratically (each level re-plans a union of d leaves), so the
      // accumulator is compacted to a single leaf every 8 levels — bounded
      // plan width at depth >> the query surface's usual <= 4, while the
      // shallow common case never pays a rewrite. The compaction is lazy
      // too: the next level's job (or the caller's action) fills it.
      visited = visited.unionByName(next)
      if ((d + 1) % 8 == 0) visited = visited.lcp(eager = false)
      frontier = next
      d += 1
    }
    visited
  }

  /** G9 shortest_path: BFS distance from src to dst over both directions;
    * returns min distance (queries.ts:820-849 — APOC shortestPath analog).
    */
  def shortestDist(
      edges: DataFrame,
      start: DataFrame,
      targetKey: String,
      maxDepth: Int
  ): DataFrame =
    bfs(Adjacency.leaf(edges, Adjacency.Undirected), start, maxDepth)
      .where(col("node_key") === targetKey)

  /** Parse-plan node names a pure read-only query can produce (SELECT with
    * joins/aggregates/windows/set-ops/CTEs/subqueries/TVFs). Anything
    * outside this set is rejected — deny by default, so statement nodes
    * that are neither `Command` nor classic DML (e.g. Spark 4's
    * `UnresolvedExecuteImmediate`, which extends plain `LogicalPlan`) can
    * never slip through a denylist gap.
    */
  private val allowedQueryNodes: Set[String] = Set(
    "Project", "Filter", "Aggregate", "Sort", "Join", "LateralJoin",
    "SubqueryAlias", "UnresolvedRelation", "UnresolvedInlineTable",
    "UnresolvedTableValuedFunction", "UnresolvedTVFAliases",
    "GlobalLimit", "LocalLimit", "Offset", "Tail", "Distinct", "Deduplicate",
    "Union", "Intersect", "Except",
    "UnresolvedWith", "WithCTE", "CTERelationDef", "CTERelationRef",
    "UnresolvedSubqueryColumnAliases", "UnresolvedHaving", "WithWindowDefinition",
    "Window", "Sample", "Pivot", "Unpivot", "Generate", "Range",
    "OneRowRelation", "UnresolvedHint", "RepartitionByExpression", "Repartition"
  )

  /** G16/G17 raw read-only SQL behind a read-only gate
    * (execute_raw_cypher read-mode txn, graph_ops.rs:589-658): the statement
    * is parsed first and accepted only if EVERY plan node — including plans
    * nested inside expression subqueries — is a known pure-query operator.
    * DDL/utility Commands, DML, and statement wrappers like EXECUTE
    * IMMEDIATE all fail the allowlist before execution.
    */
  def rawSql(spark: SparkSession, sql: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    val denied = plan.collectWithSubqueries {
      case p if !allowedQueryNodes.contains(p.nodeName) => p.nodeName
    }
    require(denied.isEmpty, s"only read-only queries are allowed; denied node: ${denied.headOption.getOrElse("")}")
    spark.sql(sql)
  }

  /** G7 get_repo_map (mcp/src/graph/graph.ts:437-456; queries.ts:761-818):
    * CONTAINS-only expansion from the Corpus root, rendered as an
    * archy-style indented tree. Each level carries an accumulated
    * `sort_path` (parent path + '/' + name) so the render order is the
    * depth-first tree order and fully deterministic; the render line is
    * two-space indentation per depth + "NodeType name". Depth-bounded like
    * the reference's expansion; a full-corpus map at 100 TB is a deliberate
    * big-output query and stays distributed (no driver collect).
    */
  def repoMap(nodes: DataFrame, edges: DataFrame, maxDepth: Int): DataFrame = withAqeOff(nodes.sparkSession) {
    // the resident CONTAINS leaf keeps its partitioning, as does the labels
    // checkpoint: the per-level joins re-shuffle neither relation
    val contains = Adjacency.leaf(edges, Seq(Adjacency.Leg(Seq("CONTAINS"), forward = true)))
    val labels = nodes
      .select(col("node_key"), col("node_type"), col("name"))
      .repartition(col("node_key"))
      .lcp(eager = false)
    var level = nodes
      .where(col("node_type") === "Corpus")
      .select(col("node_key"), col("node_type"), col("name"), lit(0).as("depth"),
        col("name").as("sort_path"))
      .lcp(eager = false)
    var out = level
    var more = true
    var d = 0
    while (d < maxDepth && more) {
      // both joins hash-build on the level-sized side and stream the leaf
      // and labels; as in bfs, a broadcast would cost a job of its own
      val next = level
        .select(col("node_key").as("from"), col("sort_path").as("parent_path"))
        .hint("shuffle_hash")
        .join(contains, Seq("from"))
        .select(col("to").as("node_key"), col("parent_path"))
        .hint("shuffle_hash")
        .join(labels, Seq("node_key"))
        .select(col("node_key"), col("node_type"), col("name"), lit(d + 1).as("depth"),
          concat(col("parent_path"), lit("/"), col("name")).as("sort_path"))
        .lcp(eager = false) // truncate iterative lineage
      more = d + 1 < maxDepth && next.count() > 0 // the level's one job, as in bfs
      out = out.unionByName(next)
      level = next
      d += 1
    }
    out.select(
      col("sort_path"),
      concat(expr("repeat('  ', depth)"), col("node_type"), lit(" "), col("name")).as("render"))
  }

  /** G7 get_file_map (mcp/src/graph/graph.ts:417-434): suffix lookup of one
    * File — Conversation in the transcript domain — via `get_file_ends_with`
    * (neo4j.ts:279-289, `f.file ENDS WITH $file_name`), then its depth-1
    * CONTAINS subtree rendered archy-style WITH per-node token counts
    * (buildTree's withTokens arm). The reference takes `records[0]` of the
    * suffix match; distributed "first record" is nondeterministic, so we pin
    * min(conv_id) — same single-row contract, deterministic everywhere.
    * Shape at 100 TB: one pushdown-friendly suffix scan → 1-row broadcast →
    * one CONTAINS probe; no iteration, no driver collect.
    */
  def fileMap(nodes: DataFrame, edges: DataFrame, fileEnd: String): DataFrame = {
    val tokenCount =
      when(length(trim(coalesce(col("body"), lit("")))) === 0, lit(0L))
        .otherwise(
          size(split(trim(coalesce(col("body"), lit(""))), "\\s+")).cast("long"))
    val root = nodes
      .where(col("node_type") === "Conversation" && col("conv_id").endsWith(fileEnd))
      .orderBy("conv_id")
      .limit(1)
      .select(col("node_key"), col("node_type"), col("name"),
        lit(0).as("depth"), col("name").as("sort_path"), tokenCount.as("tokens"))
    val kids = broadcast(root.select(col("node_key").as("from"), col("sort_path").as("parent_path")))
      .join(
        edges.where(col("edge_type") === "CONTAINS")
          .select(col("src_key").as("from"), col("dst_key").as("to")),
        Seq("from"))
      .join(nodes, col("to") === nodes("node_key"))
      .select(col("node_key"), col("node_type"), col("name"), lit(1).as("depth"),
        concat(col("parent_path"), lit("/"), col("name")).as("sort_path"),
        tokenCount.as("tokens"))
    root.unionByName(kids).select(
      col("sort_path"),
      concat(expr("repeat('  ', depth)"), col("node_type"), lit(" "), col("name"),
        lit(" ("), col("tokens"), lit(")")).as("render"))
  }

  /** G9 node-type constraint (mcp/src/graph/queries.ts:820-849): the
    * reference's shortest_path restricts traversal to
    * Page|Function|Request|Endpoint|Datamodel nodes — the BFS edge relation
    * keeps only edges whose BOTH ends are in the typed projection. Two
    * left-semi prunes of the edge table against the (small) typed key set;
    * at scale both are broadcast-able dimension joins, and the pruned
    * relation is what [[shortestPath]]'s resident leaf partitions.
    */
  def typeProjectedEdges(nodes: DataFrame, edges: DataFrame, types: Seq[String]): DataFrame = {
    val keys = nodes.where(col("node_type").isin(types: _*)).select("node_key")
    edges
      .join(keys.withColumnRenamed("node_key", "src_key"), Seq("src_key"), "left_semi")
      .join(keys.withColumnRenamed("node_key", "dst_key"), Seq("dst_key"), "left_semi")
  }

  /** The reference's G9 traversal projection (queries.ts:820-849). */
  val PathNodeTypes: Seq[String] =
    Seq("Page", "Function", "Request", "Endpoint", "DataModel")

  /** G9 shortest_path WITH path reconstruction (queries.ts:820-849 returns
    * the actual node sequence). BFS with deterministic min-parent tracking:
    * every level row carries its node's path through its min parent, so the
    * level's one job also returns the target's path, and the call runs no
    * read-back job. Output: one row (path, depth), or empty if unreachable.
    */
  def shortestPath(
      edges: DataFrame,
      startKey: String,
      targetKey: String,
      maxDepth: Int
  ): DataFrame = withAqeOff(edges.sparkSession) {
    val spark = edges.sparkSession
    import spark.implicits._
    // resident, deduplicated 2|E| leaf partitioned on `from`: the per-level
    // join below never re-shuffles it
    val undirected = Adjacency.leaf(edges, Adjacency.Undirected)

    // each node carries its path: the path of its min parent, then itself
    var visited = Seq(startKey).toDF("node_key").lcp(eager = false)
    var frontier = Seq((startKey, startKey)).toDF("node_key", "path")
    var found = if (startKey == targetKey) Some(startKey) else None
    var exhausted = false
    var d = 0
    while (d < maxDepth && found.isEmpty && !exhausted) {
      val next = frontier
        .hint("shuffle_hash") // build on the frontier, stream the 2|E| leaf
        .join(undirected, frontier("node_key") === undirected("from"))
        .groupBy(col("to").as("node_key"))
        // min over (parent, path): the min parent, with the path through it
        .agg(min(struct(col("from").as("parent"), concat(col("path"), lit("->"), col("to")).as("path")))
          .getField("path").as("path"))
        .join(visited.hint("shuffle_hash"), Seq("node_key"), "left_anti") // as in bfs
        .lcp(eager = false)
      // lazy union (see bfs) + ONE job per level: the fused aggregate that
      // answers both loop conditions — frontier emptiness and the target's
      // path — is also what materializes the level
      visited = visited.unionByName(next.select("node_key"))
      frontier = next
      val (n, hit) = next
        .agg(count(lit(1)), min(when(col("node_key") === targetKey, col("path"))))
        .as[(Long, Option[String])].first()
      exhausted = n == 0L
      found = hit
      d += 1
    }
    found.map(p => (p, d)).toSeq.toDF("path", "depth")
  }

  /** G10 pagerank: fixed 20 iterations, damping 0.85 over the projected
    * entity graph (queries.ts:1065-1141). Dangling mass is redistributed
    * uniformly so ranks sum to N (matching GDS semantics closely enough for
    * top-k ordering; we assert convergence properties in tests).
    */
  def pagerank(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int = 20,
      damping: Double = 0.85
  ): DataFrame = withAqeOff(nodes.sparkSession) {
    // Materialize loop inputs once, PRE-PARTITIONED on their join keys:
    // localCheckpoint preserves hash partitioning, so every per-iteration
    // join below lines up without an Exchange and the loop pays exactly ONE
    // shuffle per iteration — the inherent contribs groupBy. (The naive loop
    // re-shuffled ranks, links, and keys every iteration: 4 exchanges/iter.)
    // Dangling nodes (no out-links) are modeled as a single synthetic edge
    // to a virtual sink with out_deg 1, so their mass arrives as ordinary
    // contributions on the sink's key — the rank table is then referenced
    // exactly ONCE per iteration (the contribs join), which keeps the loop's
    // checkpoint on the SMALL post-aggregation table instead of the full
    // rank table and drops the per-iteration dangling semi-join/scan.
    val sink = " dangling-sink " //   cannot appear in node keys
    val outDeg = edges.groupBy(col("src_key")).agg(count(lit(1)).as("out_deg"))
    val realLinks = edges
      .select("src_key", "dst_key")
      .join(outDeg, "src_key")
    val keys0 = nodes
      .select(col("node_key"))
      .join(
        realLinks.select(col("src_key").as("node_key")).distinct()
          .withColumn("has_out", lit(true)),
        Seq("node_key"),
        "left")
      .withColumn("dangling", col("has_out").isNull)
      .select("node_key", "dangling")
    // loop inputs materialized once, PRE-PARTITIONED on their join keys:
    // localCheckpoint preserves hash partitioning, so the per-iteration join
    // lines up exchange-free and the loop pays exactly ONE shuffle per
    // iteration — the inherent contribs groupBy
    val links = realLinks
      .unionByName(
        keys0.where(col("dangling"))
          .select(col("node_key").as("src_key"), lit(sink).as("dst_key"), lit(1L).as("out_deg")))
      .repartition(col("src_key"))
      .lcp()
    val keys = keys0.select("node_key").repartition(col("node_key")).lcp()
    val n = keys.count()
    var ranks = keys.withColumn("rank", lit(1.0))
    for (_ <- 1 to iters) {
      // the hinted shuffled-hash join builds on the (small) rank side and
      // STREAMS the pre-partitioned links — no per-iteration sort of |E|
      val contribs = ranks
        .hint("shuffle_hash")
        .join(links, ranks("node_key") === links("src_key"))
        .select(col("dst_key").as("node_key"), (col("rank") / col("out_deg")).as("c"))
        .groupBy("node_key")
        .agg(sum("c").as("c"))
        .lcp() // the single action per iteration, on the post-agg table
      val danglingMass = contribs
        .where(col("node_key") === sink)
        .agg(coalesce(sum("c"), lit(0.0)).as("dmass"))
      ranks = keys
        .join(contribs.where(col("node_key") =!= sink), Seq("node_key"), "left")
        .crossJoin(danglingMass) // scalar broadcast — no driver action
        .withColumn(
          "rank",
          lit(1 - damping) +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dmass") / lit(n.toDouble))
        )
        .select("node_key", "rank")
    }
    ranks
  }

  /** G3 CLI no-DB search scoring (cli/src/search.rs:93-132): additive
    * weights — exact name 100, name prefix 70, name contains 50, body
    * contains 25, conv path contains 20; top-k by (score desc, node_key).
    * One scan of the resident node leaf of `nodes` ([[Resident.nodes]]),
    * whose text columns are lower-cased once per frame, not per search.
    */
  def search(nodes: DataFrame, term: String, limit: Int): DataFrame =
    scored(Resident.nodes(nodes), term, limit)

  /** [[search]]'s scoring over (a filter of) a node leaf. The term is folded
    * by Catalyst's `lower`, as the leaf's columns were, so both sides fold
    * case alike.
    */
  private def scored(leaf: DataFrame, term: String, limit: Int): DataFrame = {
    val t = lower(lit(term))
    val name = col(Resident.lc("name"))
    val score =
      when(name === t, 100).otherwise(0) +
        when(name.startsWith(t) && name =!= t, 70).otherwise(0) +
        when(name.contains(t) && !name.startsWith(t), 50).otherwise(0) +
        when(col(Resident.lc("body")).contains(t), 25).otherwise(0) +
        when(col(Resident.lc("conv_id")).contains(t), 20).otherwise(0)
    leaf
      .withColumn("score", score.cast("int"))
      .where(col("score") > 0)
      .select("node_key", "node_type", "name", "score")
      .orderBy(col("score").desc, col("node_key"))
      .limit(limit)
  }

  /** G3 inverted-index fulltext arm (mcp/src/graph/queries.ts:33-47,497-547:
    * the reference's PRIMARY search path is a Lucene fulltext index over
    * name+body — `CALL db.index.fulltext.queryNodes` — with the CLI scoring
    * variant [[search]] as the non-indexed fallback). This builds the index:
    * tokenize lower(name ⊕ body) on non-alphanumeric boundaries into a
    * (term, node_key, tf) posting table, materialized ONCE per graph build.
    * At 100 TB the posting table is the scale answer — written bucketed/
    * sorted by term, a search becomes a partition-pruned probe of the
    * query's terms instead of a full-corpus body scan per search.
    */
  def buildPostings(nodes: DataFrame): DataFrame =
    nodes
      .select(
        col("node_key"),
        explode(split(lower(concat_ws(" ", col("name"), col("body"))), "[^a-z0-9]+"))
          .as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term", "node_key")
      .agg(count(lit(1)).as("tf"))

  /** Top-k probe of the posting table: OR semantics over the query's terms
    * (Lucene's default operator), score = Σ tf of matched terms — a
    * deterministic, cross-engine-exact stand-in for Lucene's tf weighting.
    * The probe filters the materialized posting leaf on `term ∈ query`
    * BEFORE any aggregation, so the plan is an index probe, not a scan of
    * node bodies; the per-node groupBy is over matched postings only.
    */
  def searchIndexed(
      postings: DataFrame,
      nodes: DataFrame,
      query: String,
      limit: Int
  ): DataFrame = {
    val terms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq
    // top-k FIRST (TakeOrdered over the aggregated hits — score and the
    // node_key tiebreak are both available pre-join), THEN decorate the k
    // winners with name/type via a broadcast join: the node table never
    // shuffles for a search, matching the searchByPagerank shape.
    val topHits = postings
      .where(col("term").isin(terms: _*))
      .groupBy("node_key")
      .agg(sum("tf").as("score"), count(lit(1)).as("terms_matched"))
      .orderBy(col("score").desc, col("node_key"))
      .limit(limit)
    nodes
      .select("node_key", "node_type", "name")
      .join(broadcast(topHits), Seq("node_key"))
      .select("node_key", "node_type", "name", "score", "terms_matched")
      .orderBy(col("score").desc, col("node_key"))
  }

  /** G3 filtered search (mcp/src/graph/queries.ts:505-532 NODE_TYPES clause):
    * the reference's fulltext search takes five optional filters applied
    * before the top-k cut — node-type include list, node-type skip list,
    * file-extension ends-with list, file include-pattern contains list, and
    * file exclude-pattern contains list. `conv_id` plays the reference's
    * `node.file` role in the transcript domain; an empty conv_id is this
    * schema's "no file", mirroring the reference's `node.file IS NULL` arm
    * (fails extensions/include, passes exclude). Empty filter list = filter
    * off, exactly as the Cypher CASE arms. All predicates are literal
    * conjunctions — pure codegen'd scan filters over the node leaf, no
    * joins: one pass + TakeOrdered(limit).
    */
  def searchFiltered(
      nodes: DataFrame,
      term: String,
      limit: Int,
      nodeTypes: Seq[String] = Nil,
      skipNodeTypes: Seq[String] = Nil,
      extensions: Seq[String] = Nil,
      includePatterns: Seq[String] = Nil,
      excludePatterns: Seq[String] = Nil
  ): DataFrame = {
    val noFile = col("conv_id").isNull || col("conv_id") === ""
    def anyOf(preds: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
      preds.reduce(_ || _)
    val typeOk =
      if (nodeTypes.isEmpty) lit(true) else col("node_type").isin(nodeTypes: _*)
    val skipOk =
      if (skipNodeTypes.isEmpty) lit(true) else !col("node_type").isin(skipNodeTypes: _*)
    val extOk =
      if (extensions.isEmpty) lit(true)
      else !noFile && anyOf(extensions.map(e => col("conv_id").endsWith(lit(e))))
    val inclOk =
      if (includePatterns.isEmpty) lit(true)
      else !noFile && anyOf(includePatterns.map(p => col("conv_id").contains(lit(p))))
    val exclOk =
      if (excludePatterns.isEmpty) lit(true)
      else noFile || !anyOf(excludePatterns.map(p => col("conv_id").contains(lit(p))))
    // filters the base frame's leaf: a filtered frame would be a new frame,
    // hence a new leaf per call
    scored(Resident.nodes(nodes).where(typeOk && skipOk && extOk && inclOk && exclOk), term, limit)
  }

  /** G3 pagerank-sorted search (mcp/src/graph/graph.ts:80-86,142 — the
    * `searchWithProvenance` sortBy="pagerank" arm): select top-k by relevance
    * first, THEN re-sort those k rows by the node's pagerank property,
    * `Number(properties.pagerank || 0)` — nodes outside the ranked projection
    * sort as 0. `ranks` is the converged pagerank table (node_key, rank).
    * Ties (the reference's stable JS sort keeps relevance order) break by
    * (score desc, node_key). Shape at 100 TB: the hits side is ≤ limit rows,
    * so the rank lookup is a left-semi prune of the big ranks table down to
    * ≤ limit rows, then a broadcast join — never a shuffle of either input.
    */
  def searchByPagerank(
      nodes: DataFrame,
      term: String,
      limit: Int,
      ranks: DataFrame): DataFrame = {
    val hits = search(nodes, term, limit)
    val hitRanks = ranks
      .join(broadcast(hits.select("node_key")), Seq("node_key"), "left_semi")
    hits
      .join(broadcast(hitRanks), Seq("node_key"), "left")
      .withColumn("pagerank", round(coalesce(col("rank"), lit(0.0)), 5))
      .drop("rank")
      .orderBy(col("pagerank").desc, col("score").desc, col("node_key"))
  }

  /** Rules-files collector (mcp/src/graph/graph.ts:250-263 over
    * queries.ts:851-884 RULES_FILES_QUERY): the reference gathers agent
    * instruction documents by a disjunction of `name ENDS WITH` arms,
    * `file CONTAINS` arms, and one lowercased ends-with arm (readme.md),
    * drops empty-body rows, and returns {files_found, snippets} with each
    * file rendered `File: <name>\n Content: \n <body>\n`. Transcript domain:
    * Turn nodes carry the bodies; `conv_id` plays `f.file`. We emit one row
    * per matched document (render precomputed) plus the total as a column —
    * the reference's single-string join is presentation-layer, kept
    * distributed here exactly like the repo-map render. The total comes from
    * a 1-row crossJoin (scalar broadcast), not an unpartitioned window, so
    * the count never single-partitions a large match set.
    */
  def rulesFiles(
      nodes: DataFrame,
      nameSuffixes: Seq[String],
      pathContains: Seq[String],
      lowerNameSuffixes: Seq[String] = Nil): DataFrame = {
    val arms: Seq[org.apache.spark.sql.Column] =
      nameSuffixes.map(s => col("name").endsWith(lit(s))) ++
        pathContains.map(p => col("conv_id").contains(lit(p))) ++
        lowerNameSuffixes.map(s => lower(col("name")).endsWith(lit(s)))
    val rules = nodes
      .where(
        col("node_type") === "Turn" &&
          arms.reduce(_ || _) &&
          length(trim(coalesce(col("body"), lit("")))) > 0)
      .select(
        col("node_key"),
        col("conv_id"),
        col("name"),
        concat(lit("File: "), col("name"), lit("\n Content: \n "), col("body"), lit("\n"))
          .as("render"))
    rules.crossJoin(rules.agg(count(lit(1)).cast("long").as("files_found")))
  }

  /** Ego-graph read (mcp/src/graph/queries.ts:239-260
    * GET_NODE_WITH_RELATED_QUERY + :450-454 EDGES_BETWEEN_NODE_KEYS_QUERY):
    * the reference collects a seed node, its 1-hop neighbors in EITHER
    * direction, then all edges whose BOTH endpoints fall in the collected
    * set (the induced subgraph). Output is one row per element: kind='node'
    * rows carry (node_key, node_type, name), kind='edge' rows carry
    * (edge_type, src_key, dst_key).
    *
    * Seed: the reference takes $ref_id from the caller; here the seed is
    * chosen deterministically as the highest-degree node (ties by key) so
    * the query is self-contained and exercises the worst-case hub ego set.
    *
    * Shape at 100 TB: one shuffle (the degree groupBy — same cost class as
    * kg_degrees), then the seed row and the ego key set are broadcast; the
    * neighbor collection and the induced-edge filter are broadcast
    * semi-joins against the big edge table — no edge-table shuffle, no
    * collect. A hub's ego set is bounded by its degree, far under the
    * broadcast threshold for any real graph.
    */
  def nodeWithRelated(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val seed = edges.select(col("src_key").as("node_key"))
      .unionByName(edges.select(col("dst_key").as("node_key")))
      .groupBy("node_key").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node_key"))
      .limit(1)
      .select("node_key")
    val out = broadcast(seed.withColumnRenamed("node_key", "src_key"))
    val in = broadcast(seed.withColumnRenamed("node_key", "dst_key"))
    val egoKeys = seed
      .unionByName(edges.join(out, Seq("src_key")).select(col("dst_key").as("node_key")))
      .unionByName(edges.join(in, Seq("dst_key")).select(col("src_key").as("node_key")))
      .distinct()
    val nodeRows = nodes
      .join(broadcast(egoKeys), Seq("node_key"), "left_semi")
      .select(
        lit("node").as("kind"),
        col("node_key"), col("node_type"), col("name"),
        lit(null).cast("string").as("edge_type"),
        lit(null).cast("string").as("src_key"),
        lit(null).cast("string").as("dst_key"))
    val edgeRows = edges
      .join(broadcast(egoKeys.withColumnRenamed("node_key", "src_key")), Seq("src_key"), "left_semi")
      .join(broadcast(egoKeys.withColumnRenamed("node_key", "dst_key")), Seq("dst_key"), "left_semi")
      .select(
        lit("edge").as("kind"),
        lit(null).cast("string").as("node_key"),
        lit(null).cast("string").as("node_type"),
        lit(null).cast("string").as("name"),
        col("edge_type"), col("src_key"), col("dst_key"))
    nodeRows.unionByName(edgeRows)
  }

  /** G5 hybrid RRF fusion (mcp/src/graph/graph.ts:152-235): each source is a
    * ranked (node_key, score) list with a boost (vector hits boost ×1.5 in
    * the reference); per source, rank by (score desc, node_key) and
    * normalize score by the source max; fused score = Σ boost · (1/(k+rank))
    * · (0.5 + 0.5·norm), k=5 (graph.ts:78). Sources are top-k result lists
    * (dimension-sized), so the unpartitioned ranking windows are safe.
    */
  def rrfFuse(sources: Seq[(DataFrame, Double)], k: Int = 5, limit: Int = 10): DataFrame =
    sources
      .map { case (df, boost) => rrfRanked(df, boost, k).select(col("node_key"), col("rrf")) }
      .reduce(_ unionByName _)
      .groupBy("node_key")
      .agg(sum("rrf").as("fused_score"))
      .orderBy(col("fused_score").desc, col("node_key"))
      .limit(limit)

  /** One RRF source: its (node_key, score) rows with `rank` by (score desc,
    * node_key) and `rrf` = boost · 1/(k + rank) · (0.5 + 0.5 · score/max).
    */
  private def rrfRanked(df: DataFrame, boost: Double, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("score").desc, col("node_key"))
    df.select(col("node_key"), col("score").cast("double").as("score"))
      .withColumn("rank", row_number().over(w))
      .withColumn("max_score", max(col("score")).over(Window.partitionBy(lit(1))))
      .withColumn(
        "rrf",
        lit(boost) * (lit(1.0) / (lit(k.toDouble) + col("rank"))) *
          (lit(0.5) + lit(0.5) * col("score") / col("max_score"))
      )
  }

  /** G5 provenance surface (searchWithProvenance, graph.ts:119-249): the
    * same RRF fusion, but each fused row carries WHICH source(s) produced it
    * and at what per-source rank/score — the reference's SearchProvenance
    * result_meta (sources, fulltext_rank/score, vector_rank/score). Sources
    * are named; the pivot columns are `<name>_rank` / `<name>_score`, NULL
    * when that source missed the node. Same scale shape as [[rrfFuse]]: one
    * shuffle per source for the rank window, one groupBy on node_key.
    */
  def rrfFuseWithProvenance(
      sources: Seq[(String, DataFrame, Double)],
      k: Int = 5,
      limit: Int = 10
  ): DataFrame = {
    val ranked = sources.map { case (src, df, boost) =>
      rrfRanked(df, boost, k)
        .select(col("node_key"), lit(src).as("source"), col("rank"), col("score"), col("rrf"))
    }
    val pivots = sources.flatMap { case (src, _, _) =>
      Seq(
        max(when(col("source") === src, col("rank"))).as(s"${src}_rank"),
        max(when(col("source") === src, col("score"))).as(s"${src}_score"))
    }
    ranked
      .reduce(_ unionByName _)
      .groupBy("node_key")
      .agg(
        sum("rrf").as("fused_score"),
        (array_join(sort_array(collect_set(col("source"))), ",").as("sources") +: pivots): _*)
      .orderBy(col("fused_score").desc, col("node_key"))
      .limit(limit)
  }

  /** G5 token-budget cutoff (mcp/src/graph/graph.ts:207-235): the reference
    * truncates fused hybrid results by a RUNNING sum of token_count over the
    * fused ranking — rows past the budget are dropped, not trimmed. Token
    * counts come from the node body (whitespace tokens; empty body = 0).
    * The window runs over the fused top-`limit` rows only — driver-safe.
    */
  def rrfFuseWithBudget(
      sources: Seq[(DataFrame, Double)],
      nodes: DataFrame,
      budget: Long,
      k: Int = 5,
      limit: Int = 10
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = nodes.select(
      col("node_key"),
      when(length(trim(col("body"))) === 0, lit(0L))
        .otherwise(size(split(trim(col("body")), "\\s+")).cast("long"))
        .as("token_count"))
    val w = Window
      .orderBy(col("fused_score").desc, col("node_key"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rrfFuse(sources, k, limit)
      .join(toks, Seq("node_key"))
      .withColumn("running_tokens", sum("token_count").over(w))
      .where(col("running_tokens") <= budget)
  }

  /** G6 fidelity (mcp/src/graph/queries.ts:616-759): the reference BFS
    * follows a PER-EDGE-TYPE direction spec — `RENDERS>|CALLS>|CONTAINS>|
    * HANDLER>|<OPERAND` — not one global direction. `spec` maps edge type →
    * forward? (true = src→dst). Each leg contributes its own directed step
    * relation; their union is one resident leaf feeding the same min-depth
    * BFS loop as [[expand]].
    */
  def expandDirected(
      edges: DataFrame,
      start: DataFrame,
      depth: Int,
      spec: Seq[(String, Boolean)]
  ): DataFrame = {
    val legs = spec.map { case (et, fwd) => Adjacency.Leg(Seq(et), fwd) }
    bfs(Adjacency.leaf(edges, legs), start, depth)
  }

  /** The reference subtree's tail join (queries.ts:744-759): after the
    * expansion, append the Import nodes of every conversation a visited node
    * belongs to (the reference joins Imports of visited FILES), at a fixed
    * synthetic depth, skipping ones the walk already reached.
    */
  def withImportsOfVisited(visited: DataFrame, nodes: DataFrame, importDepth: Int): DataFrame = {
    val convs = visited
      .join(nodes.select("node_key", "conv_id"), Seq("node_key"))
      .where(length(col("conv_id")) > 0)
      .select("conv_id")
      .distinct()
    val imports = nodes
      .where(col("node_type") === "Import")
      .join(convs, Seq("conv_id"), "left_semi")
      .select(col("node_key"), lit(importDepth).as("depth"))
      .join(visited.select("node_key"), Seq("node_key"), "left_anti")
    visited.unionByName(imports)
  }

  /** G8 get_code (mcp/src/graph/graph.ts:458-476): per conversation, Turn
    * bodies concatenated in turn order + whitespace-token totals. The
    * concat is an in-partition array_sort over collected structs — one
    * shuffle on conv_id, no window.
    */
  def codeConcat(nodes: DataFrame): DataFrame =
    nodes
      .where(col("node_type") === "Turn")
      .withColumn("tokens", size(split(trim(col("body")), "\\s+")).cast("long"))
      .groupBy("conv_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("body")))),
            x => x.getField("body")
          ),
          "\n"
        ).as("code"),
        sum("tokens").as("token_count")
      )

  /** G14 mocks-inventory analog (queries.ts:173-211): per-tool usage counts
    * with deterministic (count desc, name) ordering and offset/limit
    * pagination via row_number.
    */
  def toolInventory(transcripts: DataFrame, offset: Int, limit: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = transcripts
      .where(col("tool").isNotNull)
      .groupBy(col("tool").as("name"))
      .agg(count(lit(1)).as("n_uses"))
    counts
      .withColumn("rn", row_number().over(Window.orderBy(col("n_uses").desc, col("name"))))
      .where(col("rn") > offset && col("rn") <= offset + limit)
      .select("name", "n_uses", "rn")
  }

  /** Mock inventory (mcp/src/graph/queries.ts:173-211): Mock nodes with the
    * usage count of the stub they stand in for (USES edges into the
    * unverified stub Function), row_number-paginated like [[toolInventory]].
    * The stub is the target of the Mock's OF edge (strategy `mock_of`), so
    * the query reads the stub's key off the graph instead of building it.
    * The Mock dimension is tiny, so the unpartitioned window is safe.
    */
  def mockInventory(nodes: DataFrame, edges: DataFrame, offset: Int, limit: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stubOf = edges
      .where(col("edge_type") === "OF" && col("strategy") === "mock_of")
      .select(col("src_key").as("node_key"), col("dst_key"))
    val stubUses = edges
      .where(col("edge_type") === "USES" && col("strategy") === "unverified")
      .groupBy("dst_key")
      .agg(count(lit(1)).as("n_calls"))
    nodes
      .where(col("node_type") === "Mock")
      .join(stubOf, Seq("node_key"))
      .select(col("name"), col("dst_key"))
      .join(stubUses, Seq("dst_key"), "left")
      .na.fill(0, Seq("n_calls"))
      .withColumn("rn", row_number().over(Window.orderBy(col("n_calls").desc, col("name"))))
      .where(col("rn") > offset && col("rn") <= offset + limit)
      .select("name", "n_calls", "rn")
  }

  /** Per-node coverage listing — the standalone /tests/nodes route
    * (standalone/src/handlers/coverage.rs:74-160): nodes of one type with
    * their covering-test count (distinct test callers), a
    * tested/untested/all filter, test_count-desc ordering and offset/limit
    * pagination, plus the route's optional body stats (body_length,
    * line_count). Scale shape: the cut is TakeOrdered(offset+limit) — no
    * global sort — and the pagination window runs over that tiny slice.
    */
  def coverageNodes(
      nodes: DataFrame,
      edges: DataFrame,
      nodeType: String = "Function",
      coverage: String = "all",
      offset: Int = 0,
      limit: Int = 20
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val testSrcs = nodes
      .where(col("node_type").isin("UnitTest", "IntegrationTest", "E2etest"))
      .select(col("node_key").as("src_key"))
    val counts = edges
      .where(col("edge_type") === "CALLS")
      .join(testSrcs, Seq("src_key"), "left_semi")
      .groupBy(col("dst_key").as("node_key"))
      .agg(count_distinct(col("src_key")).as("test_count"))
    val listed = nodes
      .where(col("node_type") === nodeType)
      .join(counts, Seq("node_key"), "left")
      .na.fill(0L, Seq("test_count"))
      .where(coverage match {
        case "tested"   => col("test_count") > 0
        case "untested" => col("test_count") === 0
        case _          => lit(true)
      })
      .select(
        col("node_key"), col("name"), col("test_count"),
        length(col("body")).cast("long").as("body_length"),
        size(split(col("body"), "\n", -1)).cast("long").as("line_count"))
    listed
      .orderBy(col("test_count").desc, col("node_key"))
      .limit(offset + limit)
      .withColumn(
        "rn",
        row_number().over(Window.orderBy(col("test_count").desc, col("node_key"))))
      .where(col("rn") > offset)
  }

  /** G11 coverage (neo4j/operations/coverage.rs:16-41): share of Function
    * nodes with at least one incoming CALLS edge (any caller), plus the
    * reference's actual metric — share covered by a TEST caller (the
    * coverage query counts tests per function, not callers).
    */
  def coverage(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val fns = nodes.where(col("node_type") === "Function")
    val callEdges = edges.where(col("edge_type") === "CALLS")
    val called = fns.join(
      callEdges.select(col("dst_key").as("node_key")),
      Seq("node_key"),
      "left_semi"
    )
    val testSrcs = nodes
      .where(col("node_type").isin("UnitTest", "IntegrationTest", "E2etest"))
      .select(col("node_key").as("src_key"))
    val testCovered = fns.join(
      callEdges
        .join(testSrcs, Seq("src_key"), "left_semi")
        .select(col("dst_key").as("node_key")),
      Seq("node_key"),
      "left_semi"
    )
    fns
      .agg(count(lit(1)).as("total_functions"))
      .crossJoin(called.agg(count(lit(1)).as("called_functions")))
      .crossJoin(testCovered.agg(count(lit(1)).as("test_covered_functions")))
      .withColumn(
        "coverage",
        col("called_functions").cast("double") / col("total_functions").cast("double")
      )
      .withColumn(
        "test_coverage",
        col("test_covered_functions").cast("double") / col("total_functions").cast("double")
      )
  }

  /** G11 per-kind coverage tiers (coverage/mod.rs:60-126 build_stat /
    * build_mock_stat + GraphCoverage, neo4j/operations/coverage.rs:16-41):
    * one row per tier — unit/integration tests cover Functions, e2e tests
    * cover Pages — with the reference's stat shape (total targets, total
    * tests, covered, percent, line totals, line percent) plus the mock row.
    *
    * Line-count analog: a Function's "lines" are the line count of its
    * defining Turn's body (the reference sums end-start over target spans);
    * Pages have no span → zero line stats, exactly the reference's
    * total_lines==0 → 0.0 branch. The mock row's "mocked" analog: the Mock's
    * stub Function target receives an incoming test edge (CALLS or USES —
    * unverified targets get USES per the D13 split).
    *
    * Scale shape: per-tier covered sets are semi-joins on node_key; all
    * aggregates are single-row crossJoin-composed scalars — no collects.
    */
  def coverageByKind(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val calls = edges.where(col("edge_type") === "CALLS").select("src_key", "dst_key")
    val turnLines = nodes
      .where(col("node_type") === "Turn")
      .select(col("conv_id"), col("turn_idx"),
        size(split(col("body"), "\n")).cast("long").as("lines"))
    val fns = nodes
      .where(col("node_type") === "Function")
      .select("node_key", "conv_id", "turn_idx")
      .join(turnLines, Seq("conv_id", "turn_idx"), "left")
      .select(col("node_key"), coalesce(col("lines"), lit(0L)).as("lines"))
    val pages = nodes
      .where(col("node_type") === "Page")
      .select(col("node_key"), lit(0L).as("lines"))

    def pct(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      round(when(den === 0, 0.0).otherwise(num * 100.0 / den), 2)

    def tier(kind: String, testType: String, targets: DataFrame): DataFrame = {
      val tests = nodes.where(col("node_type") === testType)
        .select(col("node_key").as("src_key"))
      val coveredKeys = calls
        .join(tests, Seq("src_key"), "left_semi")
        .select(col("dst_key").as("node_key"))
        .distinct()
      val covered = targets.join(coveredKeys, Seq("node_key"), "left_semi")
      targets
        .agg(count(lit(1)).as("total"), coalesce(sum("lines"), lit(0L)).as("total_lines"))
        .crossJoin(tests.agg(count(lit(1)).as("total_tests")))
        .crossJoin(covered.agg(
          count(lit(1)).as("covered"),
          coalesce(sum("lines"), lit(0L)).as("covered_lines")))
        .select(
          lit(kind).as("kind"),
          col("total"), col("total_tests"), col("covered"),
          pct(col("covered"), col("total")).as("percent"),
          col("total_lines"), col("covered_lines"),
          pct(col("covered_lines"), col("total_lines")).as("line_percent"))
    }

    val testSrcs = nodes
      .where(col("node_type").isin("UnitTest", "IntegrationTest", "E2etest"))
      .select(col("node_key").as("src_key"))
    val testTouched = edges
      .where(col("edge_type").isin("CALLS", "USES"))
      .join(testSrcs, Seq("src_key"), "left_semi")
      .select(col("dst_key"))
      .distinct()
    val mocks = nodes.where(col("node_type") === "Mock").select("node_key")
    val mocked = mocks
      .join(
        edges.where(col("edge_type") === "OF").select("src_key", "dst_key"),
        mocks("node_key") === col("src_key"))
      .join(testTouched, Seq("dst_key"), "left_semi")
      .select("src_key")
      .distinct()
    val mockRow = mocks
      .agg(count(lit(1)).as("total"))
      .crossJoin(mocked.agg(count(lit(1)).as("covered")))
      .select(
        lit("mocks").as("kind"),
        col("total"), lit(0L).as("total_tests"), col("covered"),
        pct(col("covered"), col("total")).as("percent"),
        lit(0L).as("total_lines"), lit(0L).as("covered_lines"), lit(0.0).as("line_percent"))

    tier("unit_tests", "UnitTest", fns)
      .unionByName(tier("integration_tests", "IntegrationTest", fns))
      .unionByName(tier("e2e_tests", "E2etest", pages))
      .unionByName(mockRow)
  }
}
