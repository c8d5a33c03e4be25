package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{Dictionary, Mentions}
import graft.graphstore.GraphOps
import graft.link.PathNorm
import graft.pipeline.{GraphBuild, Stages}
import graft.query.{AgentSessions, Hints, Importance, Learnings, Query}
import graft.resolve.CallResolver
import graft.sources.Transcripts
import graft.util.Ckpt._

/** Driver contract — one [[registry]] record (Spark function, DuckDB oracle,
  * cost tier) per implemented operator from SURVEY.md §2; `queries` and
  * `oracleSql` are views of it by name. The transcript corpus is derived
  * deterministically from the driver's `events` parquet (see
  * [[graft.sources.Transcripts]]); every oracle SQL re-derives it in a CTE
  * and computes ground truth analytically from the generator fields, so the
  * Spark side must EXTRACT correctly from raw text to match.
  */
object SparkEntry {

  /** Flagship: end-to-end mention extraction + cascade resolution on
    * sf0.001 (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    resolvedCallsOf(spark, dir)
  }

  /** One cross-query table (mention table, graph, stores, indexes), built
    * at most once per (session, sfDir) and shared by every query that reads
    * it. Without sharing, each of the ~20 mention consumers paid the full
    * scan+window+extract plan per query (kg_canon_pairs 43 s /
    * kg_find_endpoint 6.1 s in BENCH_r02 were pure re-extraction cost).
    * Frames are eagerly localCheckpointed, so every consumer plans against
    * a leaf. Entries keyed by a stopped SparkSession are evicted (ADVICE
    * r3): they would otherwise leak for the process lifetime, and cached
    * frames whose checkpoint blocks died with the old context would fail
    * with "checkpoint block not found" instead of recomputing. Each first
    * build is timed (see [[sharedSeconds]]).
    */
  private[graft] final class Shared[V] private[SparkEntry] (build: (SparkSession, String) => V) {
    private val cache = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]

    def apply(s: SparkSession, dir: String): V = {
      cache.keys.filter(_._1.sparkContext.isStopped).foreach(cache.remove)
      cache.getOrElse((s, dir), {
        val clock = sharedClock.get
        val t0 = System.nanoTime()
        clock.depth += 1
        try cache.getOrElseUpdate((s, dir), build(s, dir))
        finally {
          clock.depth -= 1
          // a build nested in another (graphOf inside a store's build) is
          // already inside the outer one's time
          if (clock.depth == 0) clock.nanos += System.nanoTime() - t0
        }
      })
    }

    def isBuilt(s: SparkSession, dir: String): Boolean = cache.contains((s, dir))
  }

  private final class SharedClock { var depth = 0; var nanos = 0L }
  private val sharedClock = ThreadLocal.withInitial(() => new SharedClock)

  /** Seconds this thread spent building shared cross-query state (the
    * [[Shared]] tables) since the last call. A query's time includes the
    * shared state it is the first to ask for; this is that part.
    */
  def sharedSeconds(): Double = {
    val clock = sharedClock.get
    val s = clock.nanos / 1e9
    clock.nanos = 0L
    s
  }

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Shared[_]]
  private def shared[V](build: (SparkSession, String) => V): Shared[V] = {
    val c = new Shared(build)
    declared += c
    c
  }

  /** A fresh dir for the tables a query writes and reads back, under the
    * driver's Spark files root: Spark deletes that root when the context
    * stops, so the dirs live as long as the session whose frames read them.
    */
  private def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(org.apache.spark.SparkFiles.getRootDirectory()), prefix).toString

  /** The transcript corpus ([[Transcripts.fromEvents]]): every query and
    * every other shared table reads it, so the events scan and the
    * (user, day) window that numbers the turns run once per (session,
    * sfDir), not once per query.
    */
  private val corpusOf: Shared[DataFrame] = shared((s, dir) =>
    Transcripts.fromEvents(s, dir).lcp())

  private[graft] val mentionsOf: Shared[DataFrame] = shared((s, dir) =>
    Mentions.extract(corpusOf(s, dir)).lcp())

  // one graph build per (session, sfDir) within a Verify/Bench run, over
  // the shared mention table: the session extracts the corpus once
  private[graft] val graphOf: Shared[GraphBuild.Graph] = shared { (s, dir) =>
    val g = Stages.fromMentions(s, corpusOf(s, dir), mentionsOf(s, dir))
    // eager localCheckpoint: collapses the (large) build plan to a
    // LogicalRDD leaf so every downstream query plans/executes against
    // materialized tables — without it, iterative consumers (pagerank,
    // BFS) re-analyze the full build tree per iteration
    GraphBuild.Graph(g.nodes.lcp(), g.edges.lcp(), g.mentions)
  }

  /** Resolved-call table: the build caches its own copy inside buildCore,
    * but the query entry re-ran the full 7-strategy cascade per invocation
    * (BENCH_r04: 0.81 -> 2.27 s at sf0.1 as the cascade widened) — the
    * reference stores resolved CALLS edges once and serves reads from the
    * store, so the entry reads a session-materialized table too.
    */
  private val resolvedCallsOf: Shared[DataFrame] = shared { (s, dir) =>
    val m = mentionsOf(s, dir)
    CallResolver.resolveCalls(
      m.where(col("mention_type") === "FunctionCall"),
      m.where(col("mention_type") === "FunctionDef"),
      corpusOf(s, dir)
    ).lcp()
  }

  /** Inverted-index posting table (term, node_key, tf) — the reference
    * builds its Lucene fulltext index once at ingest (queries.ts:33-47) and
    * every search probes it; see [[Query.buildPostings]].
    */
  private val postingsOf: Shared[DataFrame] = shared((s, dir) =>
    Query.buildPostings(graphOf(s, dir).nodes).lcp())

  // node-embedding table (node_key, embedding): the 100 TB shape is a
  // backfilled embedding column read from the node table, not a per-query
  // body-scan re-derivation — three query entries (node-vector search + both
  // hybrid fusions) consume it
  private val nodeEmbOf: Shared[DataFrame] = shared((s, dir) =>
    datapipe.Ann.nodeEmbeddings(graphOf(s, dir).nodes).lcp())

  /** Key of the Entity 'postgres' node — the hybrid/node-vector query
    * anchor. One dimension-sized point lookup (same pattern as
    * kg_shortest_path's target key): three query entries anchor on it and
    * each `.first()` is otherwise its own job.
    */
  private val postgresEntityKey: Shared[String] = shared((s, dir) =>
    graphOf(s, dir).nodes
      .where(col("node_type") === "Entity" && col("name") === "postgres")
      .select("node_key").first().getString(0))

  /** The G10 pagerank projection (Request/Endpoint/Function nodes over
    * CALLS/HANDLER edges) → converged (node_key, rank). Shared by
    * kg_pagerank and the pagerank-sorted search: the 20-iteration loop is
    * the single most expensive serving computation (~6 s at sf0.1×16), and
    * the reference likewise persists pagerank as a node property rather than
    * recomputing per query (mcp/src/graph/graph.ts sortBy="pagerank" reads a
    * stored score).
    */
  private val pagerankOf: Shared[DataFrame] = shared { (s, dir) =>
    val g = graphOf(s, dir)
    val proj = g.nodes.where(col("node_type").isin("Request", "Endpoint", "Function"))
    val projEdges =
      GraphOps.induced(g.edges.where(col("edge_type").isin("CALLS", "HANDLER")), proj.select("node_key"))
    Query.pagerank(proj, projEdges).lcp()
  }

  /** Importance scoring table (mcp/src/importance/detector.ts:54-166),
    * shared by the full-table / top-k / by-tag queries — its pagerank runs
    * over a WIDER projection than [[pagerankOf]] (7 node types,
    * CALLS|HANDLER|RENDERS), so it is its own table; the reference likewise
    * persists the scores as node properties (queries.ts:1087-1101
    * BULK_UPDATE_IMPORTANCE_QUERY).
    */
  private val importanceOf: Shared[DataFrame] = shared { (s, dir) =>
    val g = graphOf(s, dir)
    Importance.scored(g.nodes, g.edges).lcp()
  }

  /** Hint overlay table (queries.ts:88-98), shared by the four hint
    * queries; see [[Hints]] for the derivation.
    */
  private val hintsOf: Shared[DataFrame] = shared { (s, dir) =>
    val re = CallResolver.resolveEntities(
      s, mentionsOf(s, dir).where(col("mention_type") === "Entity"))
    Hints.hints(corpusOf(s, dir), re).lcp()
  }

  // the Learning rule store: the reference writes Learning/Scope nodes once
  // via upsert and serves many reads — three query entries consume this table
  private val learningsOf: Shared[DataFrame] = shared((s, dir) =>
    Learnings.learnings(corpusOf(s, dir)).lcp())

  // the prior run's committed incremental state (fingerprint dimension +
  // mention table) — the stand-in for Incremental's snapshot store so
  // kg_incremental measures the incremental path (new-side diff + delta
  // extraction + relink), not the prior run's work
  private val incStateOf: Shared[(DataFrame, DataFrame)] = shared { (s, dir) =>
    val oldT = corpusOf(s, dir)
      .where(col("ts") < lit("2024-01-08").cast("timestamp"))
    (pipeline.Incremental.fingerprints(oldT).lcp(), Mentions.extract(oldT).lcp())
  }

  // prior-run committed snapshot store + SnapshotTable corpus for the
  // snapshot-METADATA incremental entry (the 100 TB path: manifest diff, no
  // fingerprint scan): corpus dir 1 = turns before 2024-01-30 (the "old"
  // snapshot the prior run committed its state against), dir 2 = the delta
  // commit (the final day's conversations). Returns (storeDir, corpusTable).
  private val snapStoreOf: Shared[(String, String)] = shared { (s, dir) =>
    val base = scratchDir("graft-snapinc")
    val corpus = s"$base/corpus"
    val store = s"$base/store"
    val t = corpusOf(s, dir)
    // "one new day lands on the standing corpus": conversations are
    // user-DAYS (they never span the cutoff), so the delta is the last
    // day's ~3% of conversations — the realistic daily-increment shape
    // the snapshot queries measure (the fingerprint-path kg_incremental
    // keeps its own, larger-delta store so both regimes stay covered)
    val cut = col("ts") < lit("2024-01-30").cast("timestamp")
    graft.checkpoint.SnapshotTable.commit(t.where(cut), corpus, "corpus")
    val v1 = graft.checkpoint.SnapshotTable.read(s, corpus).get
    pipeline.Incremental.commitStateSnapshot(s, store, corpus, Mentions.extract(v1))
    graft.checkpoint.SnapshotTable.commit(t.where(!cut), corpus, "corpus")
    (store, corpus)
  }

  /** Every shared table. They are declared only above, so this is the
    * complete list [[prime]] builds.
    */
  private[graft] val sharedTables: Seq[Shared[_]] = declared.toList

  /** Build every shared table (and the graph's node leaf, which the lookups
    * and search serve from), so a bench/verify harness can snapshot the
    * protected persistent-RDD set and safely purge per-query garbage after
    * each entry (Bench does exactly this — the round-2 query loop
    * accumulated caches and the resulting GC residency produced the
    * 37–244 s build spread), and no query's time includes a shared build.
    */
  private[graft] def prime(s: SparkSession, dir: String): Unit = {
    sharedTables.foreach(_(s, dir))
    graft.query.Resident.nodes(graphOf(s, dir).nodes)
    ()
  }

  /** Canonical string rendering of the node meta bag for oracle compares:
    * entries sorted, "k=v" joined with ';' (keys never prefix one another,
    * so string sort == key sort).
    */
  private def withMetaKv(nodes: DataFrame): DataFrame =
    nodes
      .withColumn(
        "meta_kv",
        array_join(
          array_sort(transform(
            map_entries(col("meta")),
            e => concat(e.getField("key"), lit("="), e.getField("value"))
          )),
          ";"
        )
      )
      .drop("meta")

  /** Token budget for the G5 cutoff — chosen so the fused top-10 is
    * genuinely truncated (some rows cut, some kept) at the test SFs.
    */
  val HybridTokenBudget = 15L

  /** Retrieval prompt for the Learning/Scope funnel — mentions two of the
    * three service scopes so the scope gate genuinely selects a subset.
    */
  val LearningsPrompt = "how should the assistant retry svc_orders and svc_users calls"

  /** The hybrid vector source: node-vector cosine hits against the Entity
    * 'postgres' anchor, renamed to the fusion's (node_key, score) contract.
    */
  private def hybridVecSource(s: SparkSession, dir: String): DataFrame =
    datapipe.Ann
      .nodeVectorSearchOver(nodeEmbOf(s, dir), postgresEntityKey(s, dir), 0.0, 10)
      .withColumnRenamed("cos", "score")


  private val O = Transcripts.oracle _

  /** Hint overlay CTE — twin of [[Hints]]: conv-local IGNORE NULLS answer
    * window, dictionary anchor via `rents`, per-anchor lag chain. Exposes
    * `hintsA` (the hint table) and `hsib` (the SIBLING pairs). Needs the
    * graph CTEs (for `rents`), so compose with Oracles.withGraph.
    */
  private lazy val hintsCte: String = """
    , hq AS (
        SELECT conv_id, turn_idx, role, text,
               first_value(CASE WHEN role = 'assistant' THEN text END IGNORE NULLS)
                 OVER (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS answer
        FROM transcripts)
    , hintsT AS (
        SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS hint_key,
               conv_id, turn_idx, text AS question, answer
        FROM hq WHERE role = 'user')
    , hanchor AS (SELECT conv_id, turn_idx, min(canonical) AS anchor FROM rents GROUP BY 1, 2)
    , hintsA AS (
        SELECT h.hint_key, h.conv_id, h.turn_idx, h.question, h.answer, a.anchor
        FROM hintsT h LEFT JOIN hanchor a USING (conv_id, turn_idx))
    , hsib AS (
        SELECT * FROM (
          SELECT lag(hint_key) OVER (PARTITION BY conv_id, anchor ORDER BY turn_idx) AS src_hint,
                 hint_key AS dst_hint, anchor
          FROM hintsA WHERE anchor IS NOT NULL)
        WHERE src_hint IS NOT NULL)"""

  /** AgentSession rollup CTE — twin of [[AgentSessions.sessions]]: BPE-ish
    * token sums split by role, min/max timestamps, modal tool with
    * lexicographic tie-break. Exposes `sess`.
    */
  private lazy val sessionsCte: String = """
    , ptoks AS (
        SELECT conv_id, ts, tool,
               CASE WHEN role = 'assistant'
                    THEN CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                    ELSE 0 END AS out_toks,
               CASE WHEN role <> 'assistant'
                    THEN CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                    ELSE 0 END AS in_toks
        FROM transcripts)
    , sagg AS (
        SELECT conv_id, count(*) AS n_turns,
               min(ts) AS start_time, max(ts) AS end_time,
               CAST(sum(in_toks) AS BIGINT) AS input_tokens,
               CAST(sum(out_toks) AS BIGINT) AS output_tokens
        FROM ptoks GROUP BY 1)
    , stc AS (
        SELECT conv_id, tool, count(*) AS c FROM transcripts
        WHERE tool IS NOT NULL GROUP BY 1, 2)
    , spt AS (
        SELECT conv_id, tool AS primary_tool FROM (
          SELECT conv_id, tool,
                 row_number() OVER (PARTITION BY conv_id ORDER BY c DESC, tool) AS rn
          FROM stc) WHERE rn = 1)
    , sess AS (
        SELECT a.conv_id, a.n_turns, a.start_time, a.end_time,
               a.input_tokens, a.output_tokens,
               a.input_tokens + a.output_tokens AS total_tokens,
               epoch_ms(a.end_time) - epoch_ms(a.start_time) AS duration_ms,
               coalesce(p.primary_tool, 'none') AS primary_tool
        FROM sagg a LEFT JOIN spt p USING (conv_id))"""

  /** DuckDB twin of [[graft.query.Learnings.learnings]]: arg-min by the
    * unique within-conversation turn_idx under a role filter = Spark's
    * min-over-(turn_idx,text)-structs with when() nulls.
    */
  private val learningsCte: String = """
      , lrn AS (
        SELECT conv_id AS id,
               arg_min(text, turn_idx) FILTER (WHERE role = 'tool') AS rule,
               arg_min(text, turn_idx) FILTER (WHERE role = 'user') AS reason,
               list_sort(list(DISTINCT tool) FILTER (WHERE tool IS NOT NULL)) AS scopes
        FROM transcripts
        GROUP BY conv_id
        HAVING arg_min(text, turn_idx) FILTER (WHERE role = 'tool') IS NOT NULL
      )"""

  /** DuckDB twin of [[graft.query.Learnings.scopesText]]. */
  private def scopesTextSql(e: String): String = s"array_to_string(list_sort($e), ',')"

  /** The handlers whose definitions kg_mock_inventory's corpus slice drops:
    * every alias of the kafka entity.
    */
  private[graft] val mockedHandlers: Seq[String] =
    Dictionary.aliasTable.collect { case (_, alias, "kafka") => s"${alias}_handler" }

  /** Key of the Entity 'postgres' anchor, as a SQL literal. */
  private val pgEntityKeySql: String =
    Oracles.key4("'Entity'", "'postgres'", "''", "-1")

  /** Inverted-index posting CTE — DuckDB twin of [[Query.buildPostings]]
    * (same tokenizer: lower(name ⊕ ' ' ⊕ body) split on non-alphanumeric).
    */
  private lazy val postCte: String = """
      , post AS MATERIALIZED (
          SELECT node_key, term, count(*) AS tf FROM (
            SELECT node_key,
                   unnest(string_split_regex(lower(name || ' ' || body),
                          '[^a-z0-9]+')) AS term
            FROM nodes)
          WHERE term <> '' GROUP BY 1, 2)"""

  /** The top-`k` search hits for `term` among the nodes `where` admits, as
    * (node_key, node_type, name, score) — DuckDB twin of [[Query.search]]'s
    * scoring: exact name 100, name prefix 70, name infix 50, body 25,
    * conversation id 20.
    */
  private def searchSql(term: String, where: String = "TRUE", k: Int = 10): String = s"""
      SELECT node_key, node_type, name, score FROM (
        SELECT node_key, node_type, name, CAST(
          (CASE WHEN lower(name) = '$term' THEN 100 ELSE 0 END) +
          (CASE WHEN lower(name) LIKE '$term%' AND lower(name) <> '$term' THEN 70 ELSE 0 END) +
          (CASE WHEN lower(name) LIKE '%$term%' AND lower(name) NOT LIKE '$term%' THEN 50 ELSE 0 END) +
          (CASE WHEN lower(body) LIKE '%$term%' THEN 25 ELSE 0 END) +
          (CASE WHEN lower(conv_id) LIKE '%$term%' THEN 20 ELSE 0 END) AS INTEGER) AS score
        FROM nodes
        WHERE $where
      ) WHERE score > 0
      ORDER BY score DESC, node_key
      LIMIT $k"""

  /** The top-10 node-vector hits against the Entity 'postgres' anchor, as
    * (node_key, cos) with cos >= `minCos` — DuckDB twin of
    * [[datapipe.Ann.nodeVectorSearchOver]]. Needs [[Oracles.nodeEmbCte]].
    */
  private def nodeVecSql(minCos: Double): String = s"""
      SELECT node_key, cos FROM (
        SELECT e.node_key, ${Oracles.cosSql("q.qv", "e.embedding")} AS cos
        FROM nemb e, (SELECT embedding AS qv FROM nemb WHERE node_key = $pgEntityKeySql) q
        WHERE e.node_key <> $pgEntityKeySql
      ) WHERE cos >= $minCos ORDER BY cos DESC, node_key LIMIT 10"""

  /** The CTE `srcs` (node_key, source, rank, score, rrf) of an RRF fusion,
    * one arm per (source, relation, boost) — DuckDB twin of the per-source
    * step of [[Query.rrfFuse]]: rank by (score desc, node_key), normalize by
    * the source max, rrf = boost · 1/(5 + rank) · (0.5 + 0.5 · score/max).
    */
  private def rrfSrcsCte(sources: (String, String, Double)*): String =
    sources.map { case (source, rel, boost) => s"""
        SELECT node_key, '$source' AS source,
               CAST(row_number() OVER (ORDER BY score DESC, node_key) AS INTEGER) AS rank,
               CAST(score AS DOUBLE) AS score,
               $boost * (1.0/(5 + row_number() OVER (ORDER BY score DESC, node_key)))
               * (0.5 + 0.5*score/max(score) OVER ()) AS rrf
        FROM $rel""" }.mkString("\n      , srcs AS (", "\n        UNION ALL", "\n      )")

  /** The fused top 10 over `srcs` with each source's rank and score — twin
    * of [[Query.rrfFuseWithProvenance]].
    */
  private def rrfProvenanceSql(sources: String*): String = s"""
      SELECT node_key, round(sum(rrf), 6) AS fused_score,
             string_agg(source, ',' ORDER BY source) AS sources,""" +
    sources.map(src => s"""
             max(CASE WHEN source = '$src' THEN rank END) AS ${src}_rank,
             max(CASE WHEN source = '$src' THEN score END) AS ${src}_score""").mkString(",") + """
      FROM srcs GROUP BY node_key
      ORDER BY sum(rrf) DESC, node_key LIMIT 10"""

  /** Text ⊕ node-vector fusion sources (twin of the kg_hybrid_search
    * entry): `tsearch`, `vsrc` and their `srcs`.
    */
  private lazy val hybridCte: String = Oracles.nodeEmbCte + s"""
      , tsearch AS (SELECT node_key, CAST(score AS DOUBLE) AS score FROM (${searchSql("postgres")}))
      , vsrc AS (SELECT node_key, cos AS score FROM (${nodeVecSql(0.0)}))""" +
    rrfSrcsCte(("fulltext", "tsearch", 1.0), ("vector", "vsrc", 1.5))

  /** Three-source fusion CTEs (indexed fulltext + node-vector + pagerank
    * prior) — DuckDB twin of the kg_hybrid_tri entry. The pagerank arm
    * rounds to 5 decimals BEFORE fusion on both sides (the converged rank is
    * the one double whose bit pattern differs across engines).
    */
  private lazy val triCte: String = Oracles.nodeEmbCte + postCte + s"""
      , itsearch AS (
          SELECT node_key, CAST(sum(tf) AS DOUBLE) AS score
          FROM post WHERE term IN ('postgres') GROUP BY node_key
          ORDER BY score DESC, node_key LIMIT 10)
      , vsrc AS (SELECT node_key, cos AS score FROM (${nodeVecSql(0.0)}))""" +
    Oracles.pagerankChain + """
      , prsrc AS (
          SELECT node_key, round(rank, 5) AS score FROM pr20
          ORDER BY score DESC, node_key LIMIT 10)""" +
    rrfSrcsCte(("fulltext", "itsearch", 1.0), ("vector", "vsrc", 1.5), ("pagerank", "prsrc", 1.0))

  /** The node table, meta bag rendered as `meta_kv`: what the full build and
    * both incremental rebuilds must each produce, bit for bit.
    */
  private lazy val nodesOracle: String = Oracles.withGraph(
    "SELECT node_type, name, conv_id, turn_idx, body, node_key, ref_id, hash, skipped, " +
      "docs, meta_kv FROM nodes")

  /** Node and edge counts by type — DuckDB twin of [[GraphOps.graphSize]]. */
  private def graphSizeSql(nodes: String, edges: String): String = s"""
      SELECT 'node:' || node_type AS kind, count(*) AS n FROM $nodes GROUP BY 1
      UNION ALL
      SELECT 'edge:' || edge_type, count(*) FROM $edges GROUP BY 1"""

  /** The size of the full build's graph, which every path that rebuilds it
    * (batch, extend-with-a-subgraph, streaming ingest) must reproduce.
    */
  private lazy val graphSizeOracle: String = Oracles.withGraph(graphSizeSql("nodes", "edges"))

  private lazy val entitiesOracle: String = O(s"""
      , dict(name, canonical) AS (VALUES ${Oracles.dictValues}),
      ments AS (
        SELECT conv_id, turn_idx, alias AS name FROM enriched
        UNION ALL
        SELECT conv_id, turn_idx, 'SparkEngine' FROM enriched WHERE (event_id % 3) = 0
        UNION ALL
        SELECT conv_id, turn_idx, alias2 FROM enriched WHERE role = 'user' AND (event_id % 7) = 3
      )
      SELECT m.conv_id, m.turn_idx, m.name, d.canonical,
             CAST(1.0 AS DOUBLE) AS confidence, 'alias_dict' AS strategy
      FROM ments m JOIN dict d ON d.name = m.name
    """)

  private val mentionsSqlBody = """
      SELECT conv_id, turn_idx, 'Entity' AS mention_type, alias AS name,
             CAST(NULL AS VARCHAR) AS verb, CAST(NULL AS VARCHAR) AS path FROM enriched
      UNION ALL
      SELECT conv_id, turn_idx, 'Entity', 'SparkEngine', NULL, NULL
      FROM enriched WHERE (event_id % 3) = 0
      UNION ALL
      SELECT conv_id, turn_idx, 'Entity', alias2, NULL, NULL
      FROM enriched WHERE role = 'user' AND (event_id % 7) = 3
      UNION ALL
      SELECT conv_id, turn_idx,
             CASE WHEN role = 'tool' THEN 'FunctionDef' ELSE 'FunctionCall' END,
             (CASE WHEN role = 'tool' THEN alias ELSE alias2 END) || '_handler', NULL, NULL
      FROM enriched WHERE role = 'tool' OR (role = 'user' AND (event_id % 7) = 3)
      UNION ALL
      SELECT conv_id, turn_idx,
             CASE WHEN role = 'tool' THEN 'Endpoint' ELSE 'Request' END,
             CASE WHEN role = 'tool' THEN path ELSE replace(path, '{id}', '$' || '{id}') END,
             verb,
             CASE WHEN role = 'tool' THEN path ELSE replace(path, '{id}', '$' || '{id}') END
      FROM enriched WHERE role IN ('tool','assistant')
      UNION ALL
      SELECT conv_id, turn_idx, 'Tool', tool, NULL, NULL
      FROM enriched WHERE tool IS NOT NULL
    """

  /** Every query of the correctness gate, one record each (see [[Entry]]). */
  lazy val registry: Seq[Entry] = DatapipeEntries.entries ++ Seq(
    // A1/A3 corpus scan + normalization: the input table itself, proving
    // per-turn text equality + stable (conv_id, turn_idx) ordering survive.
    Entry("kg_transcripts", (s, dir) => corpusOf(s, dir),
      O("SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts")),

    // B2/B9/B10/B11 mention extraction (rule + dictionary emitters)
    Entry("kg_mentions", (s, dir) => mentionsOf(s, dir),
      O(mentionsSqlBody)),

    // C1/C2 resolution cascade with confidence + strategy provenance
    Entry("kg_resolve_calls", (s, dir) => resolvedCallsOf(s, dir),
      Oracles.withGraph("""
      SELECT conv_id, turn_idx, name, resolved_conv, resolved_name, confidence, strategy
      FROM rcalls
    """)),

    // C4 dictionary/registry resolution (type_resolved analog, conf 1.0)
    Entry("kg_resolve_entities", { (s, dir) =>
      CallResolver.resolveEntities(
        s,
        mentionsOf(s, dir).where(col("mention_type") === "Entity")
      )
    }, entitiesOracle),
    // north-rule skew defense: identical resolution through the salted
    // shuffle join (hot entity fans across 8 reducers) — same oracle
    Entry("kg_resolve_entities_salted", { (s, dir) =>
      CallResolver.resolveEntitiesSalted(
        s,
        mentionsOf(s, dir).where(col("mention_type") === "Entity")
      )
    }, entitiesOracle),

    // E1–E3 path normalization + Request→Endpoint linking
    Entry("kg_link_api", { (s, dir) =>
      val m = mentionsOf(s, dir)
      PathNorm.linkApi(
        m.where(col("mention_type") === "Request"),
        m.where(col("mention_type") === "Endpoint")
      )
    }, O("""
      , reqs AS (
        SELECT conv_id, turn_idx, verb,
               regexp_replace(path, '/([0-9]+|\{id\})$', '/:param') AS norm_path,
               replace(path, '{id}', '$' || '{id}') AS req_path
        FROM enriched WHERE role = 'assistant'
      ), eps AS (
        SELECT DISTINCT regexp_replace(path, '/([0-9]+|\{id\})$', '/:param') AS norm_path, verb
        FROM enriched WHERE role = 'tool'
      )
      SELECT r.conv_id, r.turn_idx, r.verb, r.norm_path,
             'endpoint-' || r.norm_path || '-' || r.verb AS endpoint_id,
             r.req_path
      FROM reqs r JOIN eps e ON e.norm_path = r.norm_path AND e.verb = r.verb
    """)),

    // D1/D2/D9–D12 + A6 MERGE: the materialized node table. The meta map is
    // checked as a canonical sorted "k=v;…" rendering (engine-portable; the
    // map column itself is unsortable by the driver's pandas comparer).
    Entry("kg_nodes", (s, dir) => withMetaKv(graphOf(s, dir).nodes), nodesOracle),
    // D13 add_calls + spine/linker edges: the (subj, pred, obj) edge table
    Entry("kg_edges", (s, dir) => graphOf(s, dir).edges,
      Oracles.withGraph("SELECT edge_type, src_key, dst_key, confidence, strategy FROM edges")),
    // D23 get_graph_size
    Entry("kg_graph_size", { (s, dir) =>
      val g = graphOf(s, dir); GraphOps.graphSize(g.nodes, g.edges)
    }, graphSizeOracle),
    // D6 find_nodes_with_edge_type (Turn -MENTIONS-> Entity)
    Entry("kg_nodes_with_edge_type", { (s, dir) =>
      val g = graphOf(s, dir)
      GraphOps.findNodesWithEdgeType(g.nodes, g.edges, "Turn", "Entity", "MENTIONS")
    }, Oracles.withGraph("""
      SELECT DISTINCT 'turn-' || CAST(turn_idx AS VARCHAR) AS src_name,
             conv_id AS src_conv, turn_idx AS src_turn, canonical AS dst_name
      FROM crents
    """)),
    // D7 count_edges_of_type
    Entry("kg_count_edges", (s, dir) => GraphOps.countEdgesByType(graphOf(s, dir).edges),
      Oracles.withGraph("SELECT edge_type, count(*) AS n FROM edges GROUP BY 1")),
    // D4 lookup family: name-contains filter
    Entry("kg_find_functions_contains", (s, dir) =>
      GraphOps.findNodesNameContains(graphOf(s, dir).nodes, "Function", "gres")
        .select("node_key", "name", "conv_id", "turn_idx"),
      Oracles.withGraph("""
      SELECT node_key, name, conv_id, turn_idx FROM nodes
      WHERE node_type = 'Function' AND name LIKE '%gres%'
    """)),
    // D8 reverse edge lookup: who points at Entity 'spark'
    Entry("kg_find_sources", (s, dir) => {
      val g = graphOf(s, dir); GraphOps.findSources(g.nodes, g.edges, "Entity", "spark")
    }, Oracles.withGraph(s"""
      SELECT DISTINCT edge_type, src_key FROM edges
      WHERE dst_key = ${Oracles.key4("'Entity'", "'spark'", "''", "-1")}
    """)),
    // D19 prune candidates: never-called functions (anti-join)
    Entry("kg_uncalled_functions", (s, dir) => {
      val g = graphOf(s, dir); GraphOps.uncalledFunctions(g.nodes, g.edges)
    }, Oracles.withGraph("""
      SELECT node_key, name, conv_id, turn_idx FROM nodes n
      WHERE node_type = 'Function'
        AND NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.edge_type = 'CALLS' AND e.dst_key = n.node_key)
    """)),
    // D21 create_filtered_graph: rev-scoped node subset
    Entry("kg_filtered_nodes", { (s, dir) =>
      val g = graphOf(s, dir)
      val convs = corpusOf(s, dir)
        .select("conv_id")
        .where(col("conv_id").startsWith("conv-000001-"))
        .distinct()
      GraphOps.filteredGraph(g.nodes, g.edges, convs)._1.select("node_key", "node_type", "name")
    }, Oracles.withGraph("""
      SELECT node_key, node_type, name FROM nodes
      WHERE conv_id LIKE 'conv-000001-%' OR conv_id = ''
    """)),
    // G13/H1 changes: node-key diff between two snapshots (ts cutoff)
    Entry("kg_changes", { (s, dir) =>
      val t = corpusOf(s, dir)
      val cutoff = lit("2024-01-08").cast("timestamp")
      val before = GraphBuild.spineNodes(s, t).where(col("node_type") === "Turn")
      val after = GraphBuild.spineNodes(s, t.where(col("ts") < cutoff))
        .where(col("node_type") === "Turn")
      GraphOps.changedKeys(before, after)
    }, O(s"""
      SELECT ${Oracles.key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")} AS node_key
      FROM transcripts WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
    """)),
    // G6/G7 subtree BFS (CONTAINS spine, depth 2, min-depth semantics)
    Entry("kg_subtree", { (s, dir) =>
      val g = graphOf(s, dir)
      val start = g.nodes.where(col("node_type") === "Corpus").select("node_key")
      Query.expand(g.edges, start, 2, Seq("CONTAINS"))
    }, Oracles.withGraph(s"""
      , walk(node_key, depth) AS (
        SELECT ${Oracles.key4("'Corpus'", "'corpus'", "''", "-1")}, 0
        UNION
        SELECT e.dst_key, w.depth + 1
        FROM walk w JOIN edges e ON e.src_key = w.node_key AND e.edge_type = 'CONTAINS'
        WHERE w.depth < 2
      )
      SELECT node_key, min(depth) AS depth FROM walk GROUP BY node_key
    """), tier = 4),
    // G7 get_repo_map: archy-style indented CONTAINS tree, depth 2
    Entry("kg_repo_map", { (s, dir) =>
      val g = graphOf(s, dir)
      Query.repoMap(g.nodes, g.edges, 2)
    }, Oracles.withGraph("""
      , tree(node_key, node_type, name, depth, sort_path) AS (
        SELECT n.node_key, n.node_type, n.name, 0, n.name
        FROM nodes n WHERE n.node_type = 'Corpus'
        UNION ALL
        SELECT c.node_key, c.node_type, c.name, t.depth + 1, t.sort_path || '/' || c.name
        FROM tree t
        JOIN edges e ON e.edge_type = 'CONTAINS' AND e.src_key = t.node_key
        JOIN nodes c ON c.node_key = e.dst_key
        WHERE t.depth < 2
      )
      SELECT sort_path, repeat('  ', depth) || node_type || ' ' || name AS render FROM tree
    """)),
    // G7 get_file_map (graph.ts:417-434): suffix-matched Conversation +
    // depth-1 CONTAINS children, archy render with token counts
    Entry("kg_file_map", { (s, dir) =>
      val g = graphOf(s, dir)
      Query.fileMap(g.nodes, g.edges, "-20240103")
    }, Oracles.withGraph("""
      , root AS (
        SELECT node_key, node_type, name,
               CASE WHEN trim(coalesce(body,'')) = '' THEN CAST(0 AS BIGINT)
                    ELSE CAST(len(regexp_split_to_array(trim(coalesce(body,'')), '\s+')) AS BIGINT)
               END AS tokens
        FROM nodes
        WHERE node_type = 'Conversation' AND conv_id LIKE '%-20240103'
        ORDER BY conv_id LIMIT 1
      ), tree AS (
        SELECT node_key, node_type, name, 0 AS depth, name AS sort_path, tokens FROM root
        UNION ALL
        SELECT c.node_key, c.node_type, c.name, 1, r.name || '/' || c.name,
               CASE WHEN trim(coalesce(c.body,'')) = '' THEN CAST(0 AS BIGINT)
                    ELSE CAST(len(regexp_split_to_array(trim(coalesce(c.body,'')), '\s+')) AS BIGINT)
               END
        FROM root r
        JOIN edges e ON e.edge_type = 'CONTAINS' AND e.src_key = r.node_key
        JOIN nodes c ON c.node_key = e.dst_key
      )
      SELECT sort_path,
             repeat('  ', depth) || node_type || ' ' || name || ' (' || tokens || ')' AS render
      FROM tree
    """)),
    // G6 fidelity (queries.ts:616-759): PER-EDGE-TYPE direction spec —
    // CONTAINS>/CALLS>/HANDLER>/RENDERS> forward, <OPERAND reversed — plus
    // the reference's tail join: Import nodes of every visited conversation
    // appended at a synthetic depth past the walk bound
    Entry("kg_subtree_directed", { (s, dir) =>
      val g = graphOf(s, dir)
      val start = g.nodes.where(col("node_type") === "Corpus").select("node_key")
      val visited = Query.expandDirected(g.edges, start, 3,
        Seq("CONTAINS" -> true, "CALLS" -> true, "HANDLER" -> true,
          "RENDERS" -> true, "OPERAND" -> false))
      Query.withImportsOfVisited(visited, g.nodes, 4)
    }, Oracles.withGraph(s"""
      , dsteps AS MATERIALIZED (
        SELECT src_key AS src, dst_key AS dst FROM edges
        WHERE edge_type IN ('CONTAINS','CALLS','HANDLER','RENDERS')
        UNION ALL
        SELECT dst_key, src_key FROM edges WHERE edge_type = 'OPERAND'
      )
      , dwalk(node_key, depth) AS (
        SELECT ${Oracles.key4("'Corpus'", "'corpus'", "''", "-1")}, 0
        UNION
        SELECT s.dst, w.depth + 1
        FROM dwalk w JOIN dsteps s ON s.src = w.node_key
        WHERE w.depth < 3
      )
      , dvis AS (SELECT node_key, min(depth) AS depth FROM dwalk GROUP BY node_key)
      , dconvs AS (
        SELECT DISTINCT n.conv_id FROM dvis v JOIN nodes n ON n.node_key = v.node_key
        WHERE length(n.conv_id) > 0
      )
      SELECT node_key, depth FROM dvis
      UNION ALL
      SELECT n.node_key, 4 AS depth
      FROM nodes n JOIN dconvs c ON c.conv_id = n.conv_id
      WHERE n.node_type = 'Import'
        AND n.node_key NOT IN (SELECT node_key FROM dvis)
    """), tier = 8),
    // G12 impact: reverse closure from Entity 'spark', depth 2
    Entry("kg_impact", { (s, dir) =>
      val g = graphOf(s, dir)
      val start = g.nodes
        .where(col("node_type") === "Entity" && col("name") === "spark")
        .select("node_key")
      Query.expand(g.edges, start, 2, Nil, reverse = true)
    }, Oracles.withGraph(s"""
      , rwalk(node_key, depth) AS (
        SELECT ${Oracles.key4("'Entity'", "'spark'", "''", "-1")}, 0
        UNION
        SELECT e.src_key, w.depth + 1
        FROM rwalk w JOIN edges e ON e.dst_key = w.node_key
        WHERE w.depth < 2
      )
      SELECT node_key, min(depth) AS depth FROM rwalk GROUP BY node_key
    """)),
    // G3 CLI search scoring, top-10 deterministic
    Entry("kg_search", (s, dir) => Query.search(graphOf(s, dir).nodes, "postgres", 10),
      Oracles.withGraph(searchSql("postgres"))),
    // G3 PRIMARY arm — inverted-index fulltext (queries.ts:33-47,497-547):
    // probe of the session-materialized posting table, never a body scan
    Entry("kg_search_indexed", (s, dir) =>
      Query.searchIndexed(postingsOf(s, dir), graphOf(s, dir).nodes, "postgres handler", 10),
      Oracles.withGraph(postCte + """
      , ihits AS (
          SELECT node_key, sum(tf) AS score, count(*) AS terms_matched
          FROM post WHERE term IN ('postgres', 'handler') GROUP BY 1)
      SELECT h.node_key, n.node_type, n.name,
             CAST(h.score AS BIGINT) AS score,
             CAST(h.terms_matched AS BIGINT) AS terms_matched
      FROM ihits h JOIN nodes n ON n.node_key = h.node_key
      ORDER BY h.score DESC, h.node_key LIMIT 10
    """)),
    // G3 filtered search: all five reference filter families exercised
    // (node_types, skip_node_types, extensions, include/exclude patterns —
    // queries.ts:505-532; conv_id plays node.file)
    Entry("kg_search_filtered", (s, dir) =>
      Query.searchFiltered(
        graphOf(s, dir).nodes,
        "postgres",
        10,
        nodeTypes = Seq("Turn", "Function", "IntegrationTest"),
        skipNodeTypes = Seq("IntegrationTest"),
        extensions = Seq("3", "9"),
        includePatterns = Seq("-2024"),
        excludePatterns = Seq("conv-00001")
      ),
      Oracles.withGraph(searchSql("postgres", """node_type IN ('Turn', 'Function', 'IntegrationTest')
          AND node_type NOT IN ('IntegrationTest')
          AND conv_id <> '' AND (conv_id LIKE '%3' OR conv_id LIKE '%9')
          AND conv_id LIKE '%-2024%'
          AND NOT (conv_id LIKE '%conv-00001%')"""))),
    // Rules-files collector (graph.ts:250-263 / queries.ts:851-884): the
    // name-suffix arm picks each conversation's opening turn (turn-0) and
    // the path-contains arm one user's conversations; non-empty bodies
    // rendered File:/Content: with the total as a scalar-broadcast column
    Entry("kg_rules_files", (s, dir) =>
      Query.rulesFiles(
        graphOf(s, dir).nodes,
        nameSuffixes = Seq("-0"),
        pathContains = Seq("-000042-")
      ),
      Oracles.withGraph("""
      , rf AS (
        SELECT node_key, conv_id, name, body FROM nodes
        WHERE node_type = 'Turn'
          AND (name LIKE '%-0' OR conv_id LIKE '%-000042-%')
          AND trim(coalesce(body, '')) <> ''
      )
      SELECT node_key, conv_id, name,
             'File: ' || name || chr(10) || ' Content: ' || chr(10) || ' ' || body || chr(10) AS render,
             (SELECT CAST(count(*) AS BIGINT) FROM rf) AS files_found
      FROM rf
    """)),
    // Learning + Scope system (learnings.ts:19-196, neo4j.ts:962-1090):
    // get_all_learnings_with_scopes / get_all_scopes / post_relevant_learnings
    Entry("kg_learnings", (s, dir) =>
      learningsOf(s, dir).withColumn("scopes", Learnings.scopesText(col("scopes"))),
      O(learningsCte + s"""
      SELECT id, rule, reason, ${scopesTextSql("scopes")} AS scopes FROM lrn
    """)),
    // Hint overlay (queries.ts:88-98,307-311,356-386): Q&A hints with
    // entity anchors, per-anchor SIBLING chains, orphan/no-sibling
    // maintenance reads
    Entry("kg_hints", (s, dir) => hintsOf(s, dir),
      Oracles.withGraph(hintsCte + "\nSELECT * FROM hintsA")),
    Entry("kg_hints_orphaned", (s, dir) => Hints.orphaned(hintsOf(s, dir)),
      Oracles.withGraph(
      hintsCte + "\nSELECT * FROM hintsA WHERE answer IS NULL")),
    Entry("kg_hint_siblings", (s, dir) => Hints.siblings(hintsOf(s, dir)),
      Oracles.withGraph(hintsCte + "\nSELECT * FROM hsib")),
    Entry("kg_hints_without_siblings", (s, dir) =>
      Hints.withoutSiblings(hintsOf(s, dir)),
      Oracles.withGraph(hintsCte + """
      SELECT * FROM hintsA h
      WHERE NOT EXISTS (SELECT 1 FROM hsib s
                        WHERE s.src_hint = h.hint_key OR s.dst_hint = h.hint_key)
    """)),
    Entry("kg_scopes", (s, dir) => Learnings.scopesOver(learningsOf(s, dir)),
      O(learningsCte + """
      SELECT scope, CAST(count(*) AS BIGINT) AS n_learnings
      FROM (SELECT id, unnest(scopes) AS scope FROM lrn)
      GROUP BY scope
    """)),
    Entry("kg_relevant_learnings", (s, dir) =>
      Learnings.relevantOver(learningsOf(s, dir), LearningsPrompt, 25)
        .withColumn("scopes", Learnings.scopesText(col("scopes"))),
      O(learningsCte + s"""
      , rel AS (
        SELECT DISTINCT scope
        FROM (SELECT unnest(scopes) AS scope FROM lrn)
        WHERE contains('$LearningsPrompt', scope)
      )
      , cand AS (
        SELECT DISTINCT l.id, l.rule, l.scopes
        FROM lrn l JOIN rel r ON list_contains(l.scopes, r.scope)
      )
      SELECT id, rule, ${scopesTextSql("scopes")} AS scopes, ${Oracles.cosSql("e", "q")} AS cos
      FROM (
        SELECT id, rule, scopes,
               ${Oracles.embSql("id", "rule")} AS e,
               ${Oracles.embSql("'prompt'", s"'$LearningsPrompt'")} AS q
        FROM cand
      )
      ORDER BY cos DESC, id LIMIT 25
    """)),
    // G11 coverage
    Entry("kg_coverage", (s, dir) => {
      val g = graphOf(s, dir); Query.coverage(g.nodes, g.edges)
    }, Oracles.withGraph("""
      SELECT total_functions, called_functions, test_covered_functions,
             CAST(called_functions AS DOUBLE) / CAST(total_functions AS DOUBLE) AS coverage,
             CAST(test_covered_functions AS DOUBLE) / CAST(total_functions AS DOUBLE) AS test_coverage
      FROM (
        SELECT
          (SELECT count(*) FROM nodes WHERE node_type = 'Function') AS total_functions,
          (SELECT count(*) FROM nodes n WHERE n.node_type = 'Function'
             AND EXISTS (SELECT 1 FROM edges e
                         WHERE e.edge_type = 'CALLS' AND e.dst_key = n.node_key)) AS called_functions,
          (SELECT count(*) FROM nodes n WHERE n.node_type = 'Function'
             AND EXISTS (SELECT 1 FROM edges e JOIN nodes s ON s.node_key = e.src_key
                         WHERE e.edge_type = 'CALLS'
                           AND s.node_type IN ('UnitTest','IntegrationTest','E2etest')
                           AND e.dst_key = n.node_key)) AS test_covered_functions
      )
    """)),
    // G11 per-kind coverage tiers + mock stat (coverage/mod.rs:60-126):
    // unit/integration cover Functions, e2e covers Pages; line stats from
    // the defining Turn's body
    Entry("kg_coverage_kinds", (s, dir) => {
      val g = graphOf(s, dir); Query.coverageByKind(g.nodes, g.edges)
    }, Oracles.withGraph("""
      , nmat AS MATERIALIZED (
          SELECT node_type, node_key, conv_id, turn_idx, body FROM nodes)
      , emat AS MATERIALIZED (
          SELECT edge_type, src_key, dst_key FROM edges)
      , calls_k AS MATERIALIZED (
          SELECT src_key, dst_key FROM emat WHERE edge_type = 'CALLS')
      , turn_lines AS (
          SELECT conv_id, turn_idx,
                 CAST(len(string_split(body, chr(10))) AS BIGINT) AS lines
          FROM nmat WHERE node_type = 'Turn')
      , fns_l AS MATERIALIZED (
          SELECT f.node_key, coalesce(t.lines, 0) AS lines
          FROM (SELECT node_key, conv_id, turn_idx FROM nmat
                WHERE node_type = 'Function') f
          LEFT JOIN turn_lines t
            ON t.conv_id = f.conv_id AND t.turn_idx = f.turn_idx)
      , pages_l AS (
          SELECT node_key, CAST(0 AS BIGINT) AS lines FROM nmat
          WHERE node_type = 'Page')
      , ut_ck AS (SELECT DISTINCT c.dst_key FROM calls_k c
                  JOIN nmat t ON t.node_key = c.src_key AND t.node_type = 'UnitTest')
      , it_ck AS (SELECT DISTINCT c.dst_key FROM calls_k c
                  JOIN nmat t ON t.node_key = c.src_key AND t.node_type = 'IntegrationTest')
      , e2_ck AS (SELECT DISTINCT c.dst_key FROM calls_k c
                  JOIN nmat t ON t.node_key = c.src_key AND t.node_type = 'E2etest')
      , mocks_n AS (SELECT node_key FROM nmat WHERE node_type = 'Mock')
      , test_touched AS (
          SELECT DISTINCT e.dst_key FROM emat e
          JOIN nmat s ON s.node_key = e.src_key
            AND s.node_type IN ('UnitTest','IntegrationTest','E2etest')
          WHERE e.edge_type IN ('CALLS','USES'))
      , mocked_n AS (
          SELECT DISTINCT o.src_key FROM emat o
          JOIN mocks_n m ON m.node_key = o.src_key
          JOIN test_touched t ON t.dst_key = o.dst_key
          WHERE o.edge_type = 'OF')
      , stats AS (
          SELECT 'unit_tests' AS kind,
            (SELECT count(*) FROM fns_l) AS total,
            (SELECT count(*) FROM nmat WHERE node_type = 'UnitTest') AS total_tests,
            (SELECT count(*) FROM fns_l WHERE node_key IN (SELECT dst_key FROM ut_ck)) AS covered,
            (SELECT CAST(coalesce(sum(lines), 0) AS BIGINT) FROM fns_l) AS total_lines,
            (SELECT CAST(coalesce(sum(lines), 0) AS BIGINT) FROM fns_l
             WHERE node_key IN (SELECT dst_key FROM ut_ck)) AS covered_lines
          UNION ALL
          SELECT 'integration_tests',
            (SELECT count(*) FROM fns_l),
            (SELECT count(*) FROM nmat WHERE node_type = 'IntegrationTest'),
            (SELECT count(*) FROM fns_l WHERE node_key IN (SELECT dst_key FROM it_ck)),
            (SELECT CAST(coalesce(sum(lines), 0) AS BIGINT) FROM fns_l),
            (SELECT CAST(coalesce(sum(lines), 0) AS BIGINT) FROM fns_l
             WHERE node_key IN (SELECT dst_key FROM it_ck))
          UNION ALL
          SELECT 'e2e_tests',
            (SELECT count(*) FROM pages_l),
            (SELECT count(*) FROM nmat WHERE node_type = 'E2etest'),
            (SELECT count(*) FROM pages_l WHERE node_key IN (SELECT dst_key FROM e2_ck)),
            CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          UNION ALL
          SELECT 'mocks',
            (SELECT count(*) FROM mocks_n),
            CAST(0 AS BIGINT),
            (SELECT count(*) FROM mocked_n),
            CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      )
      SELECT kind, total, total_tests, covered,
             round(CASE WHEN total = 0 THEN 0.0
                        ELSE covered * 100.0 / total END, 2) AS percent,
             total_lines, covered_lines,
             round(CASE WHEN total_lines = 0 THEN 0.0
                        ELSE covered_lines * 100.0 / total_lines END, 2) AS line_percent
      FROM stats
    """), tier = 1),
    // /tests/nodes per-node coverage listing (standalone coverage.rs:74-160):
    // Functions with distinct-test-caller counts + body stats, offset/limit
    // paginated via TakeOrdered
    Entry("kg_coverage_nodes", (s, dir) => {
      val g = graphOf(s, dir)
      Query.coverageNodes(g.nodes, g.edges, "Function", "all", offset = 5, limit = 15)
    }, Oracles.withGraph("""
      , tsrc AS (SELECT node_key FROM nodes WHERE node_type IN ('UnitTest','IntegrationTest','E2etest'))
      , tcnt AS (
          SELECT e.dst_key AS node_key, count(DISTINCT e.src_key) AS test_count
          FROM edges e JOIN tsrc t ON t.node_key = e.src_key
          WHERE e.edge_type = 'CALLS' GROUP BY 1)
      , clist AS (
          SELECT n.node_key, n.name,
                 CAST(coalesce(c.test_count, 0) AS BIGINT) AS test_count,
                 CAST(length(n.body) AS BIGINT) AS body_length,
                 CAST(len(string_split(n.body, chr(10))) AS BIGINT) AS line_count
          FROM nodes n LEFT JOIN tcnt c ON c.node_key = n.node_key
          WHERE n.node_type = 'Function')
      SELECT * FROM (
        SELECT *, CAST(row_number() OVER (ORDER BY test_count DESC, node_key) AS INTEGER) AS rn
        FROM clist)
      WHERE rn > 5 AND rn <= 20
    """)),
    // G10 pagerank over the projected Request->Endpoint->Function graph
    // (oracle: the 20-iteration loop unrolled as chained CTEs)
    Entry("kg_pagerank", { (s, dir) =>
      pagerankOf(s, dir).withColumn("rank", round(col("rank"), 5))
    }, Oracles.withGraph(Oracles.pagerankCte)),
    // Importance scoring (importance/detector.ts:54-166): pagerank + degree
    // scores + percentile-thresholded tags over the 7-type projection
    Entry("kg_importance", (s, dir) => importanceOf(s, dir),
      Oracles.withGraph(
      Oracles.importanceCte + "\nSELECT * FROM itagged")),
    // get_top_importance (queries.ts:1124-1139): top-50 by pagerank
    Entry("kg_importance_top", (s, dir) => Importance.top(importanceOf(s, dir), 50),
      Oracles.withGraph(
      Oracles.importanceCte +
        "\nSELECT * FROM itagged ORDER BY pagerank DESC, node_key LIMIT 50")),
    // get_importance_tag (queries.ts:1101-1122): one tag's nodes
    Entry("kg_importance_tagged", (s, dir) =>
      Importance.byTag(importanceOf(s, dir), "Utility", 50),
      Oracles.withGraph(
      Oracles.importanceCte +
        """
      SELECT * FROM itagged WHERE importance_tag = 'Utility'
      ORDER BY pagerank DESC, node_key LIMIT 50""")),
    // G3 pagerank-sorted search (graph.ts:80-86,142 sortBy="pagerank"):
    // relevance top-10 for "handler" (Function hits carry pagerank; the
    // reference coalesces missing pagerank to 0), re-sorted by rank
    Entry("kg_search_pagerank", { (s, dir) =>
      Query.searchByPagerank(graphOf(s, dir).nodes, "handler", 10, pagerankOf(s, dir))
    }, Oracles.withGraph(Oracles.pagerankChain + s"""
      , srch_hits AS (${searchSql("handler")})
      SELECT h.node_key, h.node_type, h.name, h.score,
             round(coalesce(pr.rank, CAST(0.0 AS DOUBLE)), 5) AS pagerank
      FROM srch_hits h LEFT JOIN pr20 pr ON pr.node_key = h.node_key
    """)),
    // G9 shortest_path: BFS distance Entity postgres -> Entity kafka
    Entry("kg_shortest_path", { (s, dir) =>
      val g = graphOf(s, dir)
      val start = g.nodes
        .where(col("node_type") === "Entity" && col("name") === "postgres")
        .select("node_key")
      val target = g.nodes
        .where(col("node_type") === "Entity" && col("name") === "kafka")
        .select("node_key")
        .first()
        .getString(0)
      Query.shortestDist(g.edges, start, target, 4)
    }, Oracles.withGraph(s"""
      , und AS (
        SELECT src_key AS a, dst_key AS b FROM edges
        UNION ALL
        SELECT dst_key AS a, src_key AS b FROM edges
      )
      , spwalk(node_key, depth) AS (
        SELECT ${Oracles.key4("'Entity'", "'postgres'", "''", "-1")}, 0
        UNION
        SELECT u.b, w.depth + 1 FROM spwalk w JOIN und u ON u.a = w.node_key
        WHERE w.depth < 4
      )
      SELECT node_key, min(depth) AS depth FROM spwalk
      WHERE node_key = ${Oracles.key4("'Entity'", "'kafka'", "''", "-1")}
      GROUP BY node_key
    """), tier = 6),
    // G5 hybrid RRF fusion, text ⊕ NODE-vector (graph.ts:152-235: vector
    // hits boost ×1.5): the vector source queries node-ATTACHED embeddings
    // directly (the reference embeds node content, embedding.rs:88-110) —
    // cosine of every node's embedding against the Entity 'postgres'
    // node's, replacing round-3's label-mod stand-in mapping
    Entry("kg_hybrid_search", { (s, dir) =>
      val g = graphOf(s, dir)
      val text = Query.search(g.nodes, "postgres", 10).select("node_key", "score")
      val vec = hybridVecSource(s, dir)
      Query.rrfFuse(Seq((text, 1.0), (vec, 1.5)), 5, 10)
        .withColumn("fused_score", round(col("fused_score"), 6))
    }, Oracles.withGraph(hybridCte + """
      SELECT node_key, round(sum(rrf), 6) AS fused_score
      FROM srcs GROUP BY node_key
      ORDER BY sum(rrf) DESC, node_key LIMIT 10
    """)),
    // G5 provenance (searchWithProvenance, graph.ts:119-249): fused rows
    // annotated with which source(s) hit and their per-source rank/score
    Entry("kg_hybrid_provenance", { (s, dir) =>
      val g = graphOf(s, dir)
      val text = Query.search(g.nodes, "postgres", 10).select("node_key", "score")
      val vec = hybridVecSource(s, dir)
      Query.rrfFuseWithProvenance(Seq(("fulltext", text, 1.0), ("vector", vec, 1.5)), 5, 10)
        .withColumn("fused_score", round(col("fused_score"), 6))
    }, Oracles.withGraph(hybridCte + rrfProvenanceSql("fulltext", "vector"))),
    // G5 THREE-source provenance fusion (graph.ts:119-249 multi-source
    // shape): indexed fulltext ⊕ node-vector cosine (×1.5) ⊕ pagerank prior,
    // each fused row carrying per-source rank/score provenance. The pagerank
    // arm reads the session-materialized converged table (the reference
    // stores pagerank as a node property and sorts search hits by it).
    Entry("kg_hybrid_tri", { (s, dir) =>
      val g = graphOf(s, dir)
      val text = Query.searchIndexed(postingsOf(s, dir), g.nodes, "postgres", 10)
        .select("node_key", "score")
      val vec = hybridVecSource(s, dir)
      // round(5) BEFORE fusion: the converged rank is the one double in the
      // fusion whose bit pattern differs across engines (20 iterations of
      // differently-ordered double sums); both sides fuse the same decimal
      val pr = pagerankOf(s, dir)
        .select(col("node_key"), round(col("rank"), 5).as("score"))
        .orderBy(col("score").desc, col("node_key"))
        .limit(10)
      Query.rrfFuseWithProvenance(
        Seq(("fulltext", text, 1.0), ("vector", vec, 1.5), ("pagerank", pr, 1.0)), 5, 10)
        .withColumn("fused_score", round(col("fused_score"), 6))
    }, Oracles.withGraph(triCte + rrfProvenanceSql("fulltext", "vector", "pagerank"))),
    // G5 token-budget cutoff (graph.ts:207-235): same fusion, truncated by a
    // running sum(token_count) over the fused ranking — rows past the
    // budget drop (the oracle asserts some rows ARE cut)
    Entry("kg_hybrid_search_budget", { (s, dir) =>
      val g = graphOf(s, dir)
      val text = Query.search(g.nodes, "postgres", 10).select("node_key", "score")
      val vec = hybridVecSource(s, dir)
      Query.rrfFuseWithBudget(Seq((text, 1.0), (vec, 1.5)), g.nodes, HybridTokenBudget, 5, 10)
        .withColumn("fused_score", round(col("fused_score"), 6))
    }, Oracles.withGraph(hybridCte + s"""
      , fused AS (
        SELECT node_key, sum(rrf) AS fused_score
        FROM srcs GROUP BY node_key
        ORDER BY sum(rrf) DESC, node_key LIMIT 10
      )
      , ntoks AS (
        SELECT node_key,
               CASE WHEN trim(body) = '' THEN CAST(0 AS BIGINT)
                    ELSE CAST(len(regexp_split_to_array(trim(body), '\\s+')) AS BIGINT)
               END AS token_count
        FROM nodes
      )
      SELECT node_key, round(fused_score, 6) AS fused_score, token_count, running_tokens
      FROM (
        SELECT f.node_key, f.fused_score, t.token_count,
               CAST(sum(t.token_count) OVER (ORDER BY f.fused_score DESC, f.node_key
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS running_tokens
        FROM fused f JOIN ntoks t ON t.node_key = f.node_key
      ) WHERE running_tokens <= ${HybridTokenBudget}
    """), tier = 3),
    // node-attached embedding column (judge r3 ask #8): every node carries a
    // deterministic content embedding the ANN operators consume directly
    Entry("kg_node_embeddings", (s, dir) =>
      nodeEmbOf(s, dir)
        .select(col("node_key"), datapipe.Ann.embeddingHash(col("embedding")).as("emb_hash")),
      Oracles.withGraph(Oracles.nodeEmbCte + s"""
      SELECT node_key, ${Oracles.embHashSql("embedding")} AS emb_hash FROM nemb
    """)),
    // G4 twin over node vectors: top-k cosine against one query node
    Entry("kg_node_vector_search", (s, dir) =>
      datapipe.Ann.nodeVectorSearchOver(nodeEmbOf(s, dir), postgresEntityKey(s, dir), 0.2, 10),
      Oracles.withGraph(Oracles.nodeEmbCte + nodeVecSql(0.2))),
    // G8 get_code: per-conversation body concat + token totals
    Entry("kg_code_concat", (s, dir) => Query.codeConcat(graphOf(s, dir).nodes),
      O("""
      SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS code,
             CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS token_count
      FROM transcripts GROUP BY conv_id
    """)),
    // G14 inventory pagination: tool usage counts, page 1 (offset 0 limit 5)
    Entry("kg_tool_inventory", (s, dir) =>
      Query.toolInventory(corpusOf(s, dir), 0, 5),
      O("""
      SELECT name, n_uses, rn FROM (
        SELECT tool AS name, count(*) AS n_uses,
               CAST(row_number() OVER (ORDER BY count(*) DESC, tool) AS INTEGER) AS rn
        FROM transcripts WHERE tool IS NOT NULL GROUP BY tool
      ) WHERE rn > 0 AND rn <= 5
    """)),
    // G14-style Mock inventory (queries.ts:173-211): mocks + stub usage.
    // Every call of the full corpus resolves, so this graph is built over a
    // slice without the tool turns that define kafka's handlers: the calls
    // to those handlers stay unverified and their targets become Mocks.
    Entry("kg_mock_inventory", { (s, dir) =>
      val mockedDef = col("role") === "tool" &&
        regexp_extract(col("text"), Dictionary.handlerPattern, 1).isin(mockedHandlers: _*)
      val g = GraphBuild.build(s, corpusOf(s, dir).where(!mockedDef))
      Query.mockInventory(g.nodes, g.edges, 0, 10)
    }, Oracles.withGraphWhere(
      s"NOT (role = 'tool' AND alias || '_handler' IN (${mockedHandlers.map(h => s"'$h'").mkString(", ")}))",
      s"""
      SELECT name, n_calls, rn FROM (
        SELECT m.name, coalesce(u.n, 0) AS n_calls,
               CAST(row_number() OVER (ORDER BY coalesce(u.n, 0) DESC, m.name) AS INTEGER) AS rn
        FROM (SELECT DISTINCT name FROM rcalls WHERE strategy = 'unverified') m
        LEFT JOIN (SELECT dst_key, count(*) AS n FROM edges
                   WHERE edge_type = 'USES' AND strategy = 'unverified' GROUP BY 1) u
          ON u.dst_key = ${Oracles.key4("'Function'", "m.name", "'unverified'", "-1")}
      ) WHERE rn > 0 AND rn <= 10
    """)),
    // G4 vector search: cosine threshold + top-k against one query vector
    // (reference threshold 0.4 targets BGE embeddings, queries.ts:553; the
    // synthetic embedding table maxes out at cos≈0.37, so 0.2 here)
    Entry("kg_vector_search", (s, dir) =>
      datapipe.Ann.vectorSearch(
        s.read.parquet(s"$dir/embeddings.parquet"), 0L, 0.2, 20),
      s"""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id AS cand_id, label, cos FROM (
        SELECT e.vec_id, e.label, ${Oracles.cosSql("q.qv", "e.embedding")} AS cos
        FROM embeddings e, q WHERE e.vec_id <> 0
      ) WHERE cos >= 0.2 ORDER BY cos DESC, cand_id LIMIT 20
    """),
    // Structured-Streaming batch twins (stream twins asserted equal in
    // StreamingSpec via readStream + processAllAvailable)
    Entry("st_windowed_counts", (s, dir) =>
      streaming.Sessions.windowedCounts(s.read.parquet(s"$dir/events.parquet")),
      """
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1, 2
    """),
    Entry("st_sessionize", (s, dir) =>
      streaming.Sessions.sessionize(s.read.parquet(s"$dir/events.parquet")),
      """
      WITH e AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
      ), m AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                       THEN 1 ELSE 0 END AS new_session
        FROM e
      ), s AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM m
      )
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
      FROM s GROUP BY 1, 2
    """),
    // Streaming KG ingest: the corpus as a file stream, per-turn mention
    // extraction AS a Structured Streaming query (exactly-once parquet sink
    // + checkpoint — delta-only per micro-batch), graph materialized from
    // the accumulated mention store. Output ≡ the batch build over the same
    // corpus (same oracle as kg_graph_size).
    Entry("st_graph_ingest", { (s, dir) =>
      val base = scratchDir("graft-stream")
      val corpus = s"$base/corpus"
      // 4 files → 4 micro-batches at maxFilesPerTrigger=1: the stream path
      // is genuinely exercised, not a single-batch degenerate case
      corpusOf(s, dir).repartition(4).write.parquet(corpus)
      streaming.GraphStream.extractAvailable(s, corpus, s"$base/mentions", s"$base/ckpt")
      val g = pipeline.Stages.fromMentions(
        s,
        s.read.parquet(corpus),
        streaming.GraphStream.mentionStore(s, s"$base/mentions")
      )
      GraphOps.graphSize(g.nodes, g.edges)
    }, graphSizeOracle, tier = 13),
    // H4 muted-state restore: flags captured on a pre-cutoff snapshot
    // survive a full rebuild via canonical-key join
    Entry("kg_restore_state", { (s, dir) =>
      val t = corpusOf(s, dir)
      val cutoff = lit("2024-01-08").cast("timestamp")
      val state = GraphBuild
        .spineNodes(s, t.where(col("ts") < cutoff))
        .where(col("node_type") === "Turn")
        .select(col("node_key"), lit(true).as("muted"))
      GraphOps.restoreUserState(graphOf(s, dir).nodes, state)
        .select("node_key", "node_type", "muted")
    }, Oracles.withGraph(s"""
      SELECT n.node_key, n.node_type,
             (n.node_key IN (
               SELECT ${Oracles.key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")}
               FROM transcripts WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
             )) AS muted
      FROM nodes n
    """)),
    // D14 endpoint grouping (mention-level, pre-key — no edge rewrite)
    Entry("kg_endpoint_groups", { (s, dir) =>
      val eps = mentionsOf(s, dir)
        .where(col("mention_type") === "Endpoint")
        .select(PathNorm.canonical(PathNorm.normalizeBackend(col("path"))).as("name"),
          col("verb"))
        .distinct()
      GraphOps.endpointGroups(eps)
    }, O(s"""
      SELECT regexp_extract(name, '^(/[^/]+/[^/]+)', 1) AS grp,
             count(*) AS n_endpoints, min(name) AS sample_path
      FROM (SELECT DISTINCT ${Oracles.normPath} AS name, verb
            FROM enriched WHERE role = 'tool')
      GROUP BY 1
    """)),
    // G16/G17 raw read-only SQL passthrough over registered temp views,
    // behind the write-denylist guard (WriteDenySpec covers rejection)
    Entry("kg_raw_sql", { (s, dir) =>
      val g = graphOf(s, dir)
      g.nodes.createOrReplaceTempView("graft_nodes")
      g.edges.createOrReplaceTempView("graft_edges")
      Query.rawSql(s, """
        SELECT n.node_type AS src_type, e.edge_type, count(*) AS n
        FROM graft_edges e JOIN graft_nodes n ON n.node_key = e.src_key
        GROUP BY n.node_type, e.edge_type
      """)
    }, Oracles.withGraph("""
      SELECT n.node_type AS src_type, e.edge_type, count(*) AS n
      FROM edges e JOIN nodes n ON n.node_key = e.src_key
      GROUP BY n.node_type, e.edge_type
    """)),
    // D16 get_data_models_within (btreemap_graph.rs:643-662): entities whose
    // alias appears inside a function's defining-turn body — broadcast
    // dictionary + substring theta-join over raw text (NOT the mention
    // table: the reference scans bodies)
    Entry("kg_datamodels_within", { (s, dir) =>
      import s.implicits._
      val t = corpusOf(s, dir)
      val dict = Dictionary.aliasToCanonical.toSeq.toDF("alias", "canonical")
      val fnTurns = t.where(col("role") === "tool")
        .select(col("conv_id"), col("turn_idx"), col("text"),
          regexp_extract(col("text"), Dictionary.handlerPattern, 1).as("fn_name"))
        .where(length(col("fn_name")) > 0)
      fnTurns
        .join(broadcast(dict), instr(col("text"), col("alias")) > 0)
        .select("fn_name", "conv_id", "turn_idx", "alias", "canonical")
        .distinct()
    }, Oracles.withGraph("""
      SELECT DISTINCT e.alias || '_handler' AS fn_name, e.conv_id, e.turn_idx,
             d.alias_name AS alias, d.canonical
      FROM enriched e JOIN dict d ON instr(e.text, d.alias_name) > 0
      WHERE e.role = 'tool'
    """)),
    // D3 find_nodes_by_name (exact lookup, btreemap_graph.rs:81-94)
    Entry("kg_find_by_name", (s, dir) =>
      GraphOps.findNodesByName(graphOf(s, dir).nodes, "Entity", "postgres")
        .select("node_key", "node_type", "name"),
      Oracles.withGraph(
      "SELECT node_key, node_type, name FROM nodes WHERE node_type = 'Entity' AND name = 'postgres'"
    )),
    // D4 suffix lookup: template requests end with the ${id} parameter
    Entry("kg_find_endswith", (s, dir) =>
      GraphOps.findNodesNameEndsWith(graphOf(s, dir).nodes, "Request", "${id}")
        .select("node_key", "name", "conv_id", "turn_idx"),
      Oracles.withGraph("""
      SELECT node_key, name, conv_id, turn_idx FROM nodes
      WHERE node_type = 'Request' AND name LIKE '%' || '$' || '{id}'
    """)),
    // B8 filter_nested range ANTI-join (builder/stages.rs:197-277): requests
    // outside every handler scope window — left_anti with a non-equi
    // conv-local range condition
    Entry("kg_top_level_requests", { (s, dir) =>
      val m = mentionsOf(s, dir)
      val reqs = m.where(col("mention_type") === "Request").select("conv_id", "turn_idx", "name")
      val defs = m
        .where(col("mention_type") === "FunctionDef")
        .select(col("conv_id").as("def_conv"), col("turn_idx").as("def_idx"))
      reqs.join(
        defs,
        reqs("conv_id") === defs("def_conv") &&
          defs("def_idx") < reqs("turn_idx") && reqs("turn_idx") <= defs("def_idx") + lit(5),
        "left_anti"
      )
    }, O("""
      SELECT conv_id, turn_idx, replace(path, '{id}', '$' || '{id}') AS name
      FROM enriched r WHERE role = 'assistant'
      AND NOT EXISTS (SELECT 1 FROM enriched d WHERE d.role = 'tool'
                      AND d.conv_id = r.conv_id
                      AND d.turn_idx < r.turn_idx AND r.turn_idx <= d.turn_idx + 5)
    """)),
    // E4 link_integration_tests analog (linker.rs:34-211): broadcast
    // body-contains theta-join — endpoint dimension scanned inside turn text
    Entry("kg_link_text_endpoints", { (s, dir) =>
      val t = corpusOf(s, dir)
      val eps = mentionsOf(s, dir)
        .where(col("mention_type") === "Endpoint")
        .select(col("verb"), col("path"))
        .distinct()
      t.select("conv_id", "turn_idx", "text")
        .join(broadcast(eps), instr(col("text"), concat(col("verb"), lit(" "), col("path"))) > 0)
        .select("conv_id", "turn_idx", "verb", "path")
    }, O("""
      SELECT t.conv_id, t.turn_idx, e.verb, e.path
      FROM transcripts t
      JOIN (SELECT DISTINCT verb, path FROM enriched WHERE role = 'tool') e
        ON instr(t.text, e.verb || ' ' || e.path) > 0
    """), tier = 2),
    // E4 INDIRECT test linking (linker.rs:96-134): test -CALLS-> helper
    // (-CALLS-> nested helper) -> request (CALLS edge or NESTED_IN scope) ->
    // endpoint index on (normalized path, verb); rows are the reference's
    // indirect_test/test_helper endpoint annotations
    Entry("kg_link_tests_indirect", { (s, dir) =>
      val g = graphOf(s, dir)
      PathNorm.linkTestsIndirect(g.nodes, g.edges)
    }, Oracles.withGraph("""
      , calls_e AS MATERIALIZED (
          SELECT src_key, dst_key FROM edges WHERE edge_type = 'CALLS')
      , itests AS (
          SELECT node_key, name FROM nodes WHERE node_type = 'IntegrationTest')
      , fns AS (
          SELECT node_key, name FROM nodes WHERE node_type = 'Function')
      , helpers AS (
          SELECT t.name AS indirect_test, f.node_key AS fn_key,
                 f.name AS test_helper
          FROM itests t
          JOIN calls_e c ON c.src_key = t.node_key
          JOIN fns f ON f.node_key = c.dst_key)
      , reach AS (
          SELECT DISTINCT indirect_test, fn_key, test_helper FROM (
            SELECT indirect_test, fn_key, test_helper FROM helpers
            UNION ALL
            SELECT h.indirect_test, f2.node_key, h.test_helper
            FROM helpers h
            JOIN calls_e c ON c.src_key = h.fn_key
            JOIN fns f2 ON f2.node_key = c.dst_key))
      , reqs AS (
          SELECT node_key AS req_key,
                 regexp_replace(regexp_replace(name, '/\$\{[^}]*\}$', '/:param'),
                                '/[0-9]+$', '/:param') AS endpoint,
                 upper(regexp_extract(meta_kv, 'verb=([A-Z]+)', 1)) AS verb
          FROM nodes WHERE node_type = 'Request')
      , treqs AS (
          SELECT r.indirect_test, r.test_helper, q.endpoint, q.verb
          FROM reach r
          JOIN calls_e c ON c.src_key = r.fn_key
          JOIN reqs q ON q.req_key = c.dst_key
          UNION ALL
          SELECT r.indirect_test, r.test_helper, q.endpoint, q.verb
          FROM reach r
          JOIN (SELECT src_key, dst_key FROM edges
                WHERE edge_type = 'NESTED_IN') n ON n.dst_key = r.fn_key
          JOIN reqs q ON q.req_key = n.src_key)
      , eps AS (
          SELECT DISTINCT name AS endpoint,
                 upper(regexp_extract(meta_kv, 'verb=([A-Z]+)', 1)) AS verb
          FROM nodes WHERE node_type = 'Endpoint')
      SELECT DISTINCT t.endpoint, t.verb, t.indirect_test, t.test_helper
      FROM treqs t JOIN eps e ON e.endpoint = t.endpoint AND e.verb = t.verb
    """)),
    // E6 link_e2e_tests analog (linker.rs:243-314): ids extracted on both
    // sides, equi-joined against the broadcast endpoint-id dimension
    Entry("kg_link_shared_ids", { (s, dir) =>
      val m = mentionsOf(s, dir)
      def withIds(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("res", PathNorm.apiResource(col("name")))
        .withColumn("shared_id", regexp_extract(col("name"), "/([0-9]+)$", 1))
        .where(length(col("shared_id")) > 0)
      val reqIds = withIds(m.where(col("mention_type") === "Request"))
        .select("conv_id", "turn_idx", "verb", "res", "shared_id")
      val epDim = withIds(m.where(col("mention_type") === "Endpoint"))
        .select("verb", "res", "shared_id")
        .distinct()
      reqIds.join(broadcast(epDim), Seq("verb", "res", "shared_id"))
        .select("conv_id", "turn_idx", "verb", "res", "shared_id")
    }, O("""
      SELECT r.conv_id, r.turn_idx, r.verb, r.res, r.shared_id
      FROM (SELECT conv_id, turn_idx, verb, resource AS res,
                   CAST(event_id % 10 AS VARCHAR) AS shared_id
            FROM enriched WHERE role = 'assistant' AND (event_id % 5) <> 0) r
      JOIN (SELECT DISTINCT verb, resource AS res, CAST(event_id % 10 AS VARCHAR) AS shared_id
            FROM enriched WHERE role = 'tool' AND (event_id % 5) <> 0) e
        ON e.verb = r.verb AND e.res = r.res AND e.shared_id = r.shared_id
    """)),
    // E5 link_e2e_tests_pages analog (linker.rs:213-235): page names scanned
    // in turn text via broadcast contains
    Entry("kg_link_pages", { (s, dir) =>
      val t = corpusOf(s, dir)
      val pages = mentionsOf(s, dir)
        .where(col("mention_type") === "Request")
        .select(PathNorm.apiResource(col("name")).as("page"))
        .where(length(col("page")) > 0)
        .distinct()
      t.select("conv_id", "turn_idx", "text")
        .join(broadcast(pages), instr(col("text"), concat(lit("/"), col("page"), lit("/"))) > 0)
        .select("conv_id", "turn_idx", "page")
    }, O("""
      SELECT t.conv_id, t.turn_idx, p.page
      FROM transcripts t
      JOIN (SELECT DISTINCT resource AS page FROM enriched WHERE role = 'assistant') p
        ON instr(t.text, '/' || p.page || '/') > 0
    """)),
    // B13 comments->docs attach (lag window over conversation order)
    Entry("kg_docs_attach", (s, dir) => Mentions.docsAttach(corpusOf(s, dir)),
      O("""
      SELECT conv_id, turn_idx, name, docs FROM (
        SELECT conv_id, turn_idx, role, alias || '_handler' AS name,
          CASE WHEN lag(role, 1) OVER w = 'user' THEN lag(text, 1) OVER w
               WHEN lag(role, 2) OVER w = 'user' THEN lag(text, 2) OVER w END AS docs
        FROM enriched
        WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
      ) WHERE role = 'tool'
    """)),
    // A2 corpus profiling (Repo::new_multi_detect analog)
    Entry("kg_profile", (s, dir) =>
      corpusOf(s, dir).groupBy("role", "tool").agg(count(lit(1)).as("n")),
      O(
      "SELECT role, tool, count(*) AS n FROM transcripts GROUP BY 1, 2"
    )),
    // AgentSession rollup (queries.ts:313-345): one accumulator row per
    // conversation — turn count, start/end/duration, input vs output token
    // sums, modal tool
    Entry("kg_agent_sessions", (s, dir) =>
      AgentSessions.sessions(corpusOf(s, dir)),
      O(sessionsCte + "\nSELECT * FROM sess")),
    // session_stats route (benchmark/sessions.ts:427-520): the per-group
    // totals the reference loops over all session rows to build
    Entry("kg_session_stats", (s, dir) =>
      AgentSessions.stats(AgentSessions.sessions(corpusOf(s, dir))),
      O(sessionsCte + """
      SELECT primary_tool,
             count(*) AS sessions,
             CAST(sum(n_turns) AS BIGINT) AS n_turns,
             CAST(sum(input_tokens) AS BIGINT) AS input_tokens,
             CAST(sum(output_tokens) AS BIGINT) AS output_tokens,
             CAST(sum(total_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(duration_ms) AS BIGINT) AS duration_ms
      FROM sess GROUP BY 1
    """)),
    // B7/D10 instances: alias occurrence -OF-> canonical class, emitted only
    // when the class exists in the dictionary (inner join)
    Entry("kg_instances", { (s, dir) =>
      CallResolver
        .resolveEntities(s, mentionsOf(s, dir).where(col("mention_type") === "Entity"))
        .select("name", "canonical")
        .distinct()
    }, Oracles.withGraph(
      "SELECT DISTINCT name, canonical FROM rents"
    )),
    // C6 skip-list suppression before resolution
    Entry("kg_mentions_skiplisted", (s, dir) =>
      Mentions.applySkipList(mentionsOf(s, dir), Seq("S3", "AmazonS3")),
      O(s"""
      SELECT * FROM ($mentionsSqlBody)
      WHERE name NOT IN ('S3', 'AmazonS3')
    """)),
    // D24 find_endpoint by (name prefix, verb)
    Entry("kg_find_endpoint", { (s, dir) =>
      mentionsOf(s, dir)
        .where(col("mention_type") === "Endpoint")
        .select(
          PathNorm.canonical(PathNorm.normalizeBackend(col("path"))).as("name"),
          col("verb"))
        .distinct()
        .where(col("verb") === "GET" && col("name").startsWith("/api/orders"))
    }, Oracles.withGraph(
      "SELECT name, verb FROM ep_ids WHERE verb = 'GET' AND name LIKE '/api/orders%'"
    )),
    // G10 degree/importance writeback
    Entry("kg_degrees", (s, dir) => {
      val g = graphOf(s, dir); GraphOps.degrees(g.nodes, g.edges)
    }, Oracles.withGraph("""
      , outd AS (SELECT src_key AS node_key, count(*) AS out_degree FROM edges GROUP BY 1)
      , ind AS (SELECT dst_key AS node_key, count(*) AS in_degree FROM edges GROUP BY 1)
      SELECT n.node_key,
             CAST(coalesce(i.in_degree, 0) AS BIGINT) AS in_degree,
             CAST(coalesce(o.out_degree, 0) AS BIGINT) AS out_degree,
             coalesce(i.in_degree, 0) = 0 AND coalesce(o.out_degree, 0) > 0 AS entry_score,
             coalesce(o.out_degree, 0) = 0 AND coalesce(i.in_degree, 0) > 0 AS utility_score,
             CAST(coalesce(i.in_degree, 0) * coalesce(o.out_degree, 0) AS BIGINT) AS hub_score
      FROM nodes n
      LEFT JOIN outd o ON o.node_key = n.node_key
      LEFT JOIN ind i ON i.node_key = n.node_key
    """)),
    // G9 shortest path WITH path reconstruction (min-parent BFS tree)
    Entry("kg_path", { (s, dir) =>
      val g = graphOf(s, dir)
      // both endpoint keys in ONE dimension-scan job (was two first() jobs)
      val keys = g.nodes
        .where(col("node_type") === "Entity" && col("name").isin("postgres", "kafka"))
        .select("name", "node_key").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      Query.shortestPath(g.edges, keys("postgres"), keys("kafka"), 4)
    }, Oracles.withGraph(Oracles.shortestPathSql(
      Oracles.key4("'Entity'", "'postgres'", "''", "-1"),
      Oracles.key4("'Entity'", "'kafka'", "''", "-1")
    )), tier = 10),
    // G9 TYPE-CONSTRAINED shortest path (queries.ts:820-849: traversal
    // restricted to Page|Function|Request|Endpoint|Datamodel nodes): BFS
    // over the typed edge projection, Page 'orders' -> DataModel 'postgres'
    // (Page -RENDERS-> Endpoint -HANDLER-> Function -CONTAINS-> DataModel)
    Entry("kg_path_typed", { (s, dir) =>
      val g = graphOf(s, dir)
      val tEdges = Query.typeProjectedEdges(g.nodes, g.edges, Query.PathNodeTypes)
      val keys = g.nodes
        .where(
          (col("node_type") === "Page" && col("name") === "orders") ||
            (col("node_type") === "DataModel" && col("name") === "postgres"))
        .select("node_type", "node_key").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      Query.shortestPath(tEdges, keys("Page"), keys("DataModel"), 4)
    }, Oracles.withGraph(
      """
      , tnodes AS MATERIALIZED (SELECT node_key FROM nodes
          WHERE node_type IN ('Page','Function','Request','Endpoint','DataModel'))
      , tedges AS MATERIALIZED (
          SELECT e.src_key, e.dst_key FROM edges e
          JOIN tnodes a ON a.node_key = e.src_key
          JOIN tnodes b ON b.node_key = e.dst_key)""" +
        Oracles.shortestPathSql(
          Oracles.key4("'Page'", "'orders'", "''", "-1"),
          Oracles.key4("'DataModel'", "'postgres'", "''", "-1"),
          4,
          "tedges"
        )), tier = 9),
    // D19+D20 full prune: drop uncalled functions AND incident edges
    Entry("kg_pruned_graph", { (s, dir) =>
      val g = graphOf(s, dir)
      val (n, e) = GraphOps.pruneUncalledFunctions(g.nodes, g.edges)
      GraphOps.graphSize(n, e)
    }, Oracles.withGraph("""
      , pruned AS (
          SELECT node_key FROM nodes n WHERE node_type = 'Function'
          AND NOT EXISTS (SELECT 1 FROM edges e
                          WHERE e.edge_type = 'CALLS' AND e.dst_key = n.node_key))
      , pn2 AS (SELECT * FROM nodes WHERE node_key NOT IN (SELECT node_key FROM pruned))
      , pe2 AS (SELECT * FROM edges
                WHERE src_key NOT IN (SELECT node_key FROM pruned)
                  AND dst_key NOT IN (SELECT node_key FROM pruned))""" +
      graphSizeSql("pn2", "pe2"))),
    // D20 remove_node (btreemap_graph.rs:708-716): delete ONE node and its
    // incident edges. The victim is the lexicographically-first Tool node —
    // deterministic, so the oracle reproduces the pick with min(node_key).
    // The one-row first() is the point-query contract itself, not a
    // driver-side loop.
    Entry("kg_remove_node", { (s, dir) =>
      val g = graphOf(s, dir)
      val victim = g.nodes
        .where(col("node_type") === "Tool")
        .agg(min("node_key"))
        .first()
        .getString(0)
      val (n, e) = GraphOps.removeNode(g.nodes, g.edges, victim)
      GraphOps.graphSize(n, e)
    }, Oracles.withGraph("""
      , victim AS (SELECT min(node_key) AS k FROM nodes WHERE node_type = 'Tool')
      , kn AS (SELECT * FROM nodes WHERE node_key <> (SELECT k FROM victim))
      , ke AS (SELECT * FROM edges
               WHERE src_key <> (SELECT k FROM victim)
                 AND dst_key <> (SELECT k FROM victim))""" +
      graphSizeSql("kn", "ke"))),
    // D18 cross-type dedup: stubs lose to operand-owned real functions
    Entry("kg_dedup_nodes", (s, dir) => {
      val g = graphOf(s, dir)
      GraphOps.dedupStubFunctions(g.nodes, g.edges).select("node_key", "name", "conv_id")
    }, Oracles.withGraph("""
      SELECT node_key, name, conv_id FROM nodes
      WHERE node_type = 'Function'
        AND NOT (conv_id = 'unverified' AND name IN (
          SELECT DISTINCT k.name FROM nodes k
          WHERE k.node_type = 'Function' AND k.conv_id <> 'unverified'
            AND k.node_key IN (SELECT dst_key FROM edges WHERE edge_type = 'OPERAND')))
    """)),
    // D17 filter_out_nodes_without_children
    Entry("kg_convs_with_functions", (s, dir) =>
      GraphOps.convsWithFunctions(graphOf(s, dir).nodes).select("node_key", "name"),
      Oracles.withGraph("""
      SELECT node_key, name FROM nodes
      WHERE node_type = 'Conversation'
        AND conv_id IN (SELECT DISTINCT conv_id FROM nodes
                        WHERE node_type = 'Function' AND conv_id <> 'unverified')
    """)),
    // D22 extend_graph: merge a rev-scoped subgraph back in, MERGE dedup
    Entry("kg_extend_graph", { (s, dir) =>
      val g = graphOf(s, dir)
      val convs = corpusOf(s, dir)
        .select("conv_id")
        .where(col("conv_id").startsWith("conv-000001-"))
        .distinct()
      val (n2, e2) = GraphOps.filteredGraph(g.nodes, g.edges, convs)
      val (n, e) = GraphOps.extendGraph(g.nodes, g.edges, n2, e2)
      GraphOps.graphSize(n, e)
    }, graphSizeOracle),
    // Ego read (queries.ts:239-260,450-454): seed + 1-hop + induced edges
    Entry("kg_node_related", { (s, dir) =>
      val g = graphOf(s, dir)
      Query.nodeWithRelated(g.nodes, g.edges)
    }, Oracles.withGraph("""
      , em AS MATERIALIZED (SELECT edge_type, src_key, dst_key FROM edges)
      , deg AS (
        SELECT node_key, count(*) AS deg FROM (
          SELECT src_key AS node_key FROM em
          UNION ALL SELECT dst_key FROM em
        ) GROUP BY 1
      ), seed AS (
        SELECT node_key FROM deg ORDER BY deg DESC, node_key LIMIT 1
      ), ego AS (
        SELECT node_key FROM seed
        UNION
        SELECT e.dst_key FROM em e JOIN seed s ON e.src_key = s.node_key
        UNION
        SELECT e.src_key FROM em e JOIN seed s ON e.dst_key = s.node_key
      )
      SELECT 'node' AS kind, n.node_key, n.node_type, n.name,
             CAST(NULL AS VARCHAR) AS edge_type,
             CAST(NULL AS VARCHAR) AS src_key,
             CAST(NULL AS VARCHAR) AS dst_key
      FROM nodes n JOIN ego USING (node_key)
      UNION ALL
      SELECT 'edge', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), e.edge_type, e.src_key, e.dst_key
      FROM em e
      JOIN ego a ON e.src_key = a.node_key
      JOIN ego b ON e.dst_key = b.node_key
    """)),
    // A8/D23 analysis listing: the full sorted key set
    Entry("kg_graph_keys", (s, dir) => graphOf(s, dir).nodes.select("node_key"),
      Oracles.withGraph("SELECT node_key FROM nodes")),
    // G15 scan family: returned-value extraction from tool turns
    Entry("kg_caps_scan", { (s, dir) =>
      corpusOf(s, dir)
        .withColumn("retval", regexp_extract(col("text"), "returned ([0-9]+)", 1))
        .where(length(col("retval")) > 0)
        .select(col("conv_id"), col("turn_idx"), col("retval").cast("long").as("retval"))
    }, O("""
      SELECT conv_id, turn_idx, CAST(floor(value) AS BIGINT) AS retval
      FROM enriched WHERE role = 'tool'
    """)),
    // B14 test collectors: integration (rerun calls) + e2e (template paths)
    Entry("kg_test_collect", { (s, dir) =>
      val t = corpusOf(s, dir)
      val integ = t.where(col("role") === "user")
        .withColumn("name", regexp_extract(col("text"), "rerun ([A-Za-z0-9-]+_handler)", 1))
        .where(length(col("name")) > 0)
        .select(col("conv_id"), col("turn_idx"), lit("integration").as("kind"), col("name"))
      val e2e = t.where(col("role") === "assistant")
        .withColumn("name", regexp_extract(col("text"), Dictionary.verbPathPattern, 2))
        .where(col("name").contains("${id}"))
        .select(col("conv_id"), col("turn_idx"), lit("e2e").as("kind"), col("name"))
      integ.unionByName(e2e)
    }, O("""
      SELECT conv_id, turn_idx, 'integration' AS kind, alias2 || '_handler' AS name
      FROM enriched WHERE role = 'user' AND (event_id % 7) = 3
      UNION ALL
      SELECT conv_id, turn_idx, 'e2e', replace(path, '{id}', '$' || '{id}')
      FROM enriched WHERE role = 'assistant' AND (event_id % 5) = 0
    """)),
    // A3 filtered scan honoring skip-lists (roles + conv prefix dictionary)
    Entry("kg_filtered_scan", (s, dir) =>
      corpusOf(s, dir)
        .where(col("role") =!= "tool" && !col("conv_id").startsWith("conv-000002-"))
        .select("conv_id", "turn_idx", "role", "text"),
      O("""
      SELECT conv_id, turn_idx, role, text FROM transcripts
      WHERE role <> 'tool' AND conv_id NOT LIKE 'conv-000002-%'
    """)),
    // H3 maintenance backfill (set_default_namespace analog)
    Entry("kg_maintenance", (s, dir) =>
      graphOf(s, dir).nodes.select(col("node_key"), lit("default").as("namespace")),
      Oracles.withGraph(
      "SELECT node_key, 'default' AS namespace FROM nodes"
    )),
    // H1 partition-level incremental rebuild: change detection against the
    // prior run's COMMITTED fingerprints, old mentions from the COMMITTED
    // mention table (never re-extracted — the old corpus is not an input),
    // re-extract only changed conversations; the node table must equal the
    // full rebuild's (same oracle as kg_nodes)
    Entry("kg_incremental", { (s, dir) =>
      val newT = corpusOf(s, dir)
      val (committedFps, committedMentions) = incStateOf(s, dir)
      withMetaKv(pipeline.Incremental.build(s, committedFps, committedMentions, newT).nodes)
    }, nodesOracle, tier = 12),
    // H1 snapshot-METADATA incremental (the scale path): the corpus is a
    // SnapshotTable; change detection is a manifest diff against the
    // committed corpus_dirs/conv_dirs lineage — zero fingerprint scan,
    // planning reads only added data dirs. Output ≡ full rebuild (same
    // oracle as kg_nodes).
    Entry("kg_incremental_snapshot", { (s, dir) =>
      val (store, corpus) = snapStoreOf(s, dir)
      withMetaKv(pipeline.Incremental.buildFromSnapshotStore(s, store, corpus).nodes)
    }, nodesOracle, tier = 11),
    // D4 find_node_by_name_file_and_meta analog (graph.rs:199-204): lookup
    // filtered on a meta key/value — possible now that nodes carry the bag
    Entry("kg_find_by_meta", { (s, dir) =>
      graphOf(s, dir).nodes
        .where(col("node_type") === "Endpoint" && element_at(col("meta"), "verb") === "GET")
        .select(col("node_key"), col("name"), element_at(col("meta"), "group").as("grp"))
    }, Oracles.withGraph(s"""
      SELECT ${Oracles.key5("'Endpoint'", "name", "''", "-1", "verb")} AS node_key, name,
             regexp_extract(name, '^(/[^/]+/[^/]+)', 1) AS grp
      FROM ep_ids WHERE verb = 'GET'
    """)),
    // Concept surface (mod.rs:30-56,83-99): each curated topic Concept with
    // its INCLUDES member entities, read back from the graph tables
    Entry("kg_concepts", { (s, dir) =>
      val g = graphOf(s, dir)
      g.edges
        .where(col("edge_type") === "INCLUDES")
        .join(
          g.nodes.select(col("node_key").as("src_key"), col("name").as("concept")),
          Seq("src_key"))
        .join(
          g.nodes.select(col("node_key").as("dst_key"), col("name").as("member")),
          Seq("dst_key"))
        .select("concept", "member")
    }, Oracles.withGraph("""
      SELECT topic AS concept, cluster AS member FROM concept_members
    """)),
    // E7 package nodes: tool-name prefix dimension
    Entry("kg_packages", { (s, dir) =>
      corpusOf(s, dir)
        .where(col("tool").isNotNull)
        .select(split(col("tool"), "_").getItem(0).as("package"), col("tool"))
        .distinct()
        .groupBy("package")
        .agg(countDistinct("tool").as("n_tools"))
    }, O("""
      SELECT string_split(tool, '_')[1] AS package, count(DISTINCT tool) AS n_tools
      FROM transcripts WHERE tool IS NOT NULL GROUP BY 1
    """)),
    // get_services analog (graph.ts:264-269 + service.ts:187-260): each
    // package-file service collects the env-var-like tokens of its scope —
    // the reference assigns env mentions to the service whose pkg dir is the
    // longest path prefix; the conversation is the containment scope here.
    // ALL-CAPS token scan ≡ extractEnvVarNames' regex sweep (service.ts:176)
    Entry("kg_services", { (s, dir) =>
      val t = corpusOf(s, dir)
      val svc = t
        .where(col("tool").isNotNull)
        .select(col("conv_id"), split(col("tool"), "_").getItem(0).as("service"))
        .distinct()
      val envs = t
        .select(
          col("conv_id"),
          explode(expr("regexp_extract_all(text, '\\\\b[A-Z][A-Z0-9_]+\\\\b', 0)"))
            .as("env_var"))
        .distinct()
      svc.join(envs, Seq("conv_id"))
        .select("service", "env_var")
        .distinct()
        .groupBy("service")
        .agg(
          count(lit(1)).as("n_env_vars"),
          array_join(sort_array(collect_set(col("env_var"))), ",").as("env"))
    }, O("""
      , svc AS (
        SELECT DISTINCT conv_id, string_split(tool, '_')[1] AS service
        FROM transcripts WHERE tool IS NOT NULL)
      , envs AS (
        SELECT DISTINCT conv_id,
               unnest(regexp_extract_all(text, '\b[A-Z][A-Z0-9_]+\b')) AS env_var
        FROM transcripts)
      , pairs AS (
        SELECT DISTINCT s.service, e.env_var
        FROM svc s JOIN envs e USING (conv_id))
      SELECT service, count(*) AS n_env_vars,
             string_agg(env_var, ',' ORDER BY env_var) AS env
      FROM pairs GROUP BY service
    """))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = registry.map(e => e.name -> e.run).toMap
  def oracleSql: Map[String, String] = registry.map(e => e.name -> e.oracle).toMap
}
