package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.Mentions
import graft.functions.Keys
import graft.link.PathNorm
import graft.schema.{EdgeTypes, NodeTypes}
import graft.sources.Transcripts
import graft.util.Ckpt._

/** Graph materialization — the node/edge stage of the transcript analog of
  * the reference's 15-stage `build_graph` pipeline
  * (ast/src/builder/core.rs:48-235). The stage sequence itself lives in
  * [[Stages]]; this object holds its last step ([[materialize]]) and the
  * entry points that run the sequence:
  *
  *  stages 1–3  (repository/directory/file spine)  -> [[spineNodes]]
  *  stages 5–14 (extraction passes)                -> Mentions.extract (ONE
  *               fused scan — the reference re-scans every file per stage;
  *               SURVEY.md §3.1 notes they fuse on Spark)
  *  stage 15    (resolution + linking)             -> CallResolver + PathNorm
  *  Neo4j MERGE upload                             -> dedup-by-key + write
  *               (dropDuplicates(node_key) ≡ MERGE, A6)
  *
  * Every build reaches [[materialize]] with the whole current corpus and
  * has no mode inside it: the full and committed builds, streaming ingest,
  * and the one incremental rebuild ([[Incremental.rebuild]], fed by either
  * change detector — fingerprint diff or snapshot-manifest diff), which
  * differs from a full build only in where its mention table comes from.
  *
  * Node identity follows create_node_key (utils.rs:82-136) through one
  * function, `key`, that keys every node row and every edge endpoint;
  * function nodes dedup to their first definition turn per conversation
  * (the reference dedups by NodeKeys, lang/mod.rs:624-640).
  *
  * Scale notes: every per-turn table is keyed by conv_id so the spine,
  * mention, and same-conv resolution work shuffle conv-locally; only the
  * (much smaller) entity/function dimension tables shuffle globally, and
  * the dictionary + endpoint-index joins are broadcast.
  */
object GraphBuild {

  final case class Graph(nodes: DataFrame, edges: DataFrame, mentions: DataFrame)

  /** Guard for the MERGE invariant the build relies on instead of a global
    * dedup exchange: every branch emits key-unique rows by construction.
    * That holds for the current extractors over well-formed input, but
    * duplicated input rows (repeated (conv_id, turn_idx)) would silently
    * break it — this check makes the assumption executable. The tests run
    * it over the in-memory build's node table and over the one
    * `graft.app.Main` commits, whose corpus `Transcripts.fromEvents` makes
    * (conv_id, turn_idx)-unique; it is one aggregation job over the table.
    */
  def validateKeyUniqueness(nodes: DataFrame): Unit = {
    val dups = nodes
      .groupBy("node_key")
      .count()
      .where(col("count") > 1)
      .limit(1)
      .collect()
    require(
      dups.isEmpty,
      s"node_key uniqueness invariant violated (e.g. ${dups.headOption.map(_.getString(0))}); " +
        "check the input for duplicated (conv_id, turn_idx) rows"
    )
  }

  private val nullConf: Column = lit(1.0)

  /** Empty map<string,string> literal for branches without meta. */
  private val emptyMeta: Column = typedLit(Map.empty[String, String])
  private val nullDocs: Column = lit(null).cast("string")

  /** The one node identity, after create_node_key / create_node_key_from_ref
    * (utils.rs:82-136,165-217): every node row (through `mkNodes`) and every
    * edge endpoint is keyed here, so a node and the edges that name it share
    * one expression. Global node types take the defaults (no conversation,
    * turn -1); only Endpoint keys carry a verb.
    */
  private def key(nodeType: String, name: Column, conv: Column = lit(""),
      turn: Column = lit(-1), verb: Option[Column] = None): Column =
    Keys.nodeKey(lit(nodeType), name, conv, turn, verb)

  /** A Turn node's name; its key is `key(Turn, turnName, conv_id, turn_idx)`. */
  private val turnName: Column = concat(lit("turn-"), col("turn_idx").cast("string"))

  private def mkNodes(df: DataFrame, nodeType: String, name: Column, conv: Column = lit(""),
      turn: Column = lit(-1), body: Column = lit(""), verb: Option[Column] = None,
      docs: Column = nullDocs, meta: Column = emptyMeta): DataFrame = {
    val k = key(nodeType, name, conv, turn, verb)
    df.select(
      lit(nodeType).as("node_type"),
      name.as("name"),
      conv.as("conv_id"),
      turn.as("turn_idx"),
      body.as("body"),
      k.as("node_key"),
      Keys.refId(k).as("ref_id"),
      // A4 per-document content hash + oversize marker (builder/core.rs:298-364)
      sha2(body, 256).as("hash"),
      (length(body) > Mentions.MaxTurnChars).as("skipped"),
      // NodeData.docs + meta bag (asg.rs:66-82,144-228): docs carry attached
      // comments (B13); meta carries the typed key/value facts the build
      // computes (verb, group, role, nested_in, date, kind)
      docs.as("docs"),
      meta.as("meta"))
  }

  /** Containment spine: Corpus / Conversation / Turn / Role (stages 1–3). */
  def spineNodes(spark: SparkSession, transcripts: DataFrame): DataFrame =
    spineNodes(spark, transcripts, transcripts)

  /** Split-input spine: `tText` supplies the Turn bodies (the only branch
    * that needs `text`); `tMeta` — a text-free projection of the SAME turns —
    * feeds the dimension branches. Column pruning cannot reach past an RDD
    * leaf, so scanning the full checkpoint re-deserializes the dominant text
    * column even for a `conv_id` distinct; the narrow twin restores the
    * pruned-scan behavior a columnar store gives for free.
    */
  def spineNodes(spark: SparkSession, tText: DataFrame, tMeta: DataFrame): DataFrame = {
    val corpus = tMeta
      .limit(1)
      .select(lit("corpus").as("n"))
    val convs = tMeta.select(col("conv_id")).distinct()
    val turns = tText.select(col("conv_id"), col("turn_idx"), col("text"), col("role"))
    val roles = tMeta.select(col("role")).distinct()

    mkNodes(corpus, NodeTypes.Corpus, col("n"))
      .unionByName(mkNodes(convs, NodeTypes.Conversation, col("conv_id"), col("conv_id")))
      .unionByName(
        mkNodes(turns, NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx"),
          body = col("text"), // per-turn text equality invariant lives here
          meta = map(lit("role"), col("role"))))
      .unionByName(mkNodes(roles, NodeTypes.Role, col("role")))
  }

  /** Full build: nodes + edges + the raw mention table, every stage kept in
    * memory.
    */
  def build(spark: SparkSession, transcripts: DataFrame): Graph =
    Stages.run(spark, transcripts, Stages.InMemory())

  /** The stage sequence over upstream stages that are already committed
    * tables read back from disk: mentions, call resolution, entity
    * resolution and api links are served as given, so this performs zero
    * extraction and zero resolution work. `resolvedEntities` is the
    * pre-canonicalization table (what `resolved_entities` commits);
    * clustering still runs — it operates on the tiny canonical dimension,
    * not the corpus.
    */
  def buildFromStages(
      spark: SparkSession,
      transcripts: DataFrame,
      mentions: DataFrame,
      resolvedCalls: DataFrame,
      resolvedEntities: DataFrame,
      apiLinks: DataFrame
  ): Graph =
    Stages.run(spark, transcripts, Stages.InMemory(Map(
      Stages.Transcripts -> transcripts,
      Stages.MentionTable -> mentions,
      Stages.ResolvedCalls -> resolvedCalls,
      Stages.ResolvedEntities -> resolvedEntities,
      Stages.ApiLinks -> apiLinks)))

  /** The node/edge stage: everything downstream of resolution. `t` is the
    * conv_id-partitioned corpus checkpoint and `tMeta` its text-free twin;
    * `mentions` is checkpointed; `resolvedEntities0` is
    * pre-canonicalization.
    */
  private[pipeline] def materialize(
      spark: SparkSession,
      t: DataFrame,
      tMeta: DataFrame,
      mentions: DataFrame,
      resolvedCalls0: DataFrame,
      resolvedEntities0: DataFrame,
      apiLinks: DataFrame
  ): Graph = {
    val fnDefs = mentions.where(col("mention_type") === "FunctionDef")
    val endpoints = mentions.where(col("mention_type") === "Endpoint")
    val requests = mentions.where(col("mention_type") === "Request")
    val tools = mentions.where(col("mention_type") === "Tool")
    val toolTurns = tMeta.where(col("tool").isNotNull)
    import PathNorm.{apiResource, endpointGroup}

    // F2 wiring (north rule: canonicalize BEFORE materializing): after the
    // dictionary resolves aliases to canonical ids, MinHash-LSH blocking +
    // connected components (Canon.clusters) cluster near-duplicate
    // canonical ids (char-3-gram Jaccard >= 0.3 — merges the hot
    // `sparkengine` into `spark`), and entity identity becomes the cluster
    // label. The cluster dimension is tiny (distinct canonicals), so it is
    // clustered on the driver regardless of corpus size.
    // One eager materialization of the tiny canonical dimension: every CC
    // consumer (vertices, shingles, candidate pairs) reads the 8-row leaf
    // instead of re-scanning the full mention table per use
    val canonNames = resolvedEntities0
      .select(col("canonical").as("name"))
      .distinct()
      .lcp()
    val clusters = graft.canon.Canon
      .clusters(canonNames, 0.3)
      .withColumnRenamed("name", "canonical")
    val resolvedEntities = resolvedEntities0
      .join(broadcast(clusters), Seq("canonical"))
      .withColumn("canonical", col("cluster"))
      .drop("cluster")
    // a local checkpoint, not `cache()`: a cache registers a cache-manager
    // entry that nothing releases, one more per build in a long-lived session
    val resolvedCalls = resolvedCalls0.lcp(eager = false)

    // B9 nested scopes via a genuine non-equi RANGE join
    // (lang/mod.rs:667-706): a request is NESTED_IN the nearest preceding
    // handler-definition scope within a 5-turn window of its conversation.
    // The join is conv_id-equi + range filter, so it stays conv-local.
    // Computed up front: feeds both the Request meta bag (nested_in key,
    // graph.rs:199-204 meta lookups) and the NESTED_IN edge branch.
    val nested0Raw = requests
      .select(col("conv_id"), col("turn_idx"), col("name").as("req_name"))
      .join(
        fnDefs.select(col("conv_id"), col("turn_idx").as("def_idx"), col("name").as("fn_name")),
        Seq("conv_id"))
      .where(col("def_idx") < col("turn_idx") && col("turn_idx") <= col("def_idx") + lit(5))
      .groupBy("conv_id", "turn_idx", "req_name")
      .agg(max(struct(col("def_idx"), col("fn_name"))).as("m"))
      .select(col("conv_id"), col("turn_idx"), col("req_name"), col("m.fn_name").as("fn_name"))

    // --- shared mention-derived subtrees, batch-planned -----------------
    // Each is consumed by 2+ node/edge branches, so each gets a LAZY local
    // checkpoint (lineage truncation, one computation). Planning them
    // sequentially cost 3.2-3.7 s of single-threaded driver CPU per build
    // (localCheckpoint resolves the physical plan at call time even when
    // lazy); Ckpt.lcpAll overlaps the 8 independent analyses.
    val instanceIdsRaw = resolvedEntities
      .select(col("name"), col("canonical"))
      .distinct()
    val fnNodes0Raw = fnDefs
      .groupBy(col("name"), col("conv_id"))
      .agg(min(col("turn_idx")).as("turn_idx"))
    val epIdsRaw = endpoints
      .select(PathNorm.canonical(PathNorm.normalizeBackend(col("path"))).as("name"), col("verb"))
      .distinct()
    // B5 get_vars analog: the returned-value binding of each tool turn as a
    // Var node contained by its turn (reference collects per-file variable
    // declarations, lang/mod.rs:604-729)
    val varRows = t
      .withColumn("retval", regexp_extract(col("text"), "returned ([0-9]+)", 1))
      .where(length(col("retval")) > 0)
      .select(col("conv_id"), col("turn_idx"), col("retval"))
    // the CONTAINS edge branch derives from THIS frame (name/conv/turn are
    // the full edge identity), keeping nodes and edges in lockstep
    val varNodesRaw =
      mkNodes(varRows, NodeTypes.Var, col("retval"), col("conv_id"), col("turn_idx"))
    val e2eRowsRaw = requests
      .where(col("name").contains("${id}"))
      .select(col("conv_id"), col("turn_idx"), col("name"), apiResource(col("name")).as("res"))
    val pageIdsRaw = requests
      .select(apiResource(col("name")).as("name"))
      .where(length(col("name")) > 0)
      .distinct()
    // D16 data models as graph citizens (btreemap_graph.rs:643-662 + the
    // Function-CONTAINS-DataModel edges of add_functions): a DataModel per
    // canonical entity contract that appears INSIDE a function's defining
    // turn body — broadcast dictionary substring theta-join over tool turns
    // (the reference scans bodies, not the mention table), then cluster
    // identity via the canonicalization stage
    val dictDf = {
      import spark.implicits._
      graft.extract.Dictionary.aliasToCanonical.toSeq.toDF("alias", "canonical")
    }
    val dmWithinRaw = t
      .where(col("role") === "tool")
      .select(col("conv_id"), col("text"),
        regexp_extract(col("text"), graft.extract.Dictionary.handlerPattern, 1).as("fn_name"))
      .where(length(col("fn_name")) > 0)
      .join(broadcast(dictDf), instr(col("text"), col("alias")) > 0)
      .select(col("fn_name"), col("conv_id"), col("canonical"))
      .distinct()
      .join(broadcast(clusters), Seq("canonical"))
      .select(col("fn_name"), col("conv_id"), col("cluster"))
      .distinct()
    // Package dimension (reference Package variant, mod.rs:30-56): the
    // tool-prefix namespace, one (prefix, tool) membership pair per distinct
    // tool — feeds the Package node branch plus two CONTAINS edge branches
    val pkgPairsRaw = toolTurns
      .select(split(col("tool"), "_").getItem(0).as("name"), col("tool"))
      .distinct()
    // Concept membership (mod.rs:30-56,83-99): curated topic -> the member
    // canonical's post-canonicalization Entity cluster; a Concept exists
    // only when a member entity was observed. Dictionary-bounded dimension.
    val conceptMembersRaw = {
      import spark.implicits._
      clusters
        .join(
          broadcast(graft.extract.Dictionary.conceptTopics.toDF("topic", "canonical")),
          Seq("canonical"))
        .select(col("topic"), col("cluster"))
        .distinct()
    }
    val planned = graft.util.Ckpt.lcpAll(Seq(
      nested0Raw, instanceIdsRaw, fnNodes0Raw, epIdsRaw,
      varNodesRaw, e2eRowsRaw, pageIdsRaw, dmWithinRaw,
      pkgPairsRaw, conceptMembersRaw))
    val nested0 = planned(0)
    val instanceIds = planned(1)
    val fnNodes0 = planned(2)
    val epIds = planned(3)
    val varNodes = planned(4)
    val e2eRows = planned(5)
    val pageIds = planned(6)
    val dmWithin = planned(7)
    val pkgPairs = planned(8)
    val conceptMembers = planned(9)

    // --- nodes ---------------------------------------------------------
    val spine = spineNodes(spark, t, tMeta)

    val toolNodes = mkNodes(tools.select(col("name")).distinct(), NodeTypes.Tool, col("name"))

    val entityNodes = mkNodes(resolvedEntities.select(col("canonical")).distinct(),
      NodeTypes.Entity, col("canonical"))

    // B5/B6/D10 typed entity surface: an Instance node per observed alias
    // surface form, kept distinct from the canonical Entity (class analog) —
    // the OF edge below records instance-of (btreemap_graph.rs:238-255)
    val instanceNodes =
      mkNodes(instanceIds.select(col("name")).distinct(), NodeTypes.Instance, col("name"))

    // Function date partition key: the nested_var cascade strategy resolves
    // within this (conv-id date segment); surfacing it as meta makes the
    // find_node_by_name_file_and_meta lookup real (graph.rs:199-204)
    def fnMeta(convId: Column) = map(lit("date"), Transcripts.convDay(convId))

    // B13 docs attach: a handler definition's docs = nearest preceding user
    // turn (≤2 back); joined onto the Function node's first-definition turn
    // so the node carries its documentation (asg.rs:66-82 NodeData.docs)
    val fnDocs = Mentions.docsAttach(t)

    // function node = first definition turn per (name, conversation)
    val fnNodes = mkNodes(
      fnNodes0.join(fnDocs, Seq("conv_id", "turn_idx", "name"), "left"),
      NodeTypes.Function, col("name"), col("conv_id"), col("turn_idx"),
      docs = col("docs"), meta = fnMeta(col("conv_id")))

    // unverified call targets become stub nodes (D13: file "<unverified>");
    // the Mock nodes and their OF edges derive from the same names
    val stubNames =
      resolvedCalls.where(col("strategy") === "unverified").select(col("name")).distinct()
    val stubNodes = mkNodes(stubNames, NodeTypes.Function, col("name"), lit("unverified"),
      meta = fnMeta(lit("unverified")))

    // endpoint identity = (canonical path, verb) after D11 dedup + D14 grouping
    val epNodes = mkNodes(epIds, NodeTypes.Endpoint, col("name"), verb = Some(col("verb")),
      meta = map(lit("verb"), col("verb"), lit("group"), endpointGroup(col("name"))))

    // Request meta: verb always; nested_in when a handler scope encloses it
    // (map_filter drops the null) — the reference stores both in NodeData
    // meta (asg.rs:144-228)
    val reqNodes = mkNodes(
      requests.join(
        nested0.withColumnRenamed("req_name", "name").withColumnRenamed("fn_name", "nested_fn"),
        Seq("conv_id", "turn_idx", "name"), "left"),
      NodeTypes.Request, col("name"), col("conv_id"), col("turn_idx"),
      meta = map_filter(
        map(lit("verb"), col("verb"), lit("nested_in"), col("nested_fn")),
        (_, v) => v.isNotNull))

    // B14/D12 test nodes as graph citizens (asg.rs:248-274; linker.rs:34-235):
    // an IntegrationTest per rerun-call turn (its CALLS edge resolves through
    // the cascade like any call), an E2eTest per template-path request
    val integTestNodes = mkNodes(
      resolvedCalls.select(col("name"), col("conv_id"), col("turn_idx")),
      NodeTypes.IntegrationTest, col("name"), col("conv_id"), col("turn_idx"),
      meta = map(lit("kind"), lit("integration")))
    val e2eTestNodes = mkNodes(e2eRows, NodeTypes.E2eTest,
      col("name"), col("conv_id"), col("turn_idx"),
      meta = map(lit("kind"), lit("e2e")))

    // B12 pages (get_pages, lang/mod.rs:408-554): the resource surface a
    // user-facing request renders, extracted from the request path
    val pageNodes = mkNodes(pageIds, NodeTypes.Page, col("name"))

    // D14 longest-prefix endpoint groups as first-class parent nodes
    // (process_endpoint_groups, btreemap_graph.rs:523-602)
    val groupIds = epIds
      .select(endpointGroup(col("name")).as("name"))
      .where(length(col("name")) > 0)
      .distinct()
    val groupNodes = mkNodes(groupIds, NodeTypes.EndpointGroup, col("name"))

    val dmNodes =
      mkNodes(dmWithin.select(col("cluster")).distinct(), NodeTypes.DataModel, col("cluster"))

    // B6 Class/Trait as distinct node types (completing the reference's
    // 21-variant taxonomy, graphs/mod.rs:30-56): a Class per canonical
    // entity CLUSTER (the code-structure citizen the clustered aliases
    // implement), a Trait per observed dictionary canonical (the contract);
    // Class -IMPLEMENTS-> Trait below mirrors class_includes and
    // Class -OPERAND-> Function mirrors find_function_parent
    // (queries/mod.rs:156-166). Both dimensions are tiny (distinct
    // canonicals), so these branches add no corpus-scale work.
    val classNodes = mkNodes(clusters.select(col("cluster")).distinct(),
      NodeTypes.Class, col("cluster"), meta = map(lit("kind"), lit("class")))
    val traitNodes = mkNodes(clusters.select(col("canonical")).distinct(),
      NodeTypes.Trait, col("canonical"), meta = map(lit("kind"), lit("trait")))

    // UnitTest: a call resolved WITHIN its own defining conversation is the
    // unit-local test analog (reference UnitTest variant + TestType::Unit,
    // mod.rs:47-56); integration tests stay the cross-conversation family
    val unitTestNodes = mkNodes(
      resolvedCalls.where(col("strategy") === "same_conv")
        .select(col("name"), col("conv_id"), col("turn_idx")),
      NodeTypes.UnitTest, col("name"), col("conv_id"), col("turn_idx"),
      meta = map(lit("kind"), lit("unit")))

    // Mock: the stand-in for an unverified call target (reference Mock
    // variant; mock inventory mcp/src/graph/queries.ts:173-211) — one per
    // distinct stub name, OF-linked to the stub Function below
    val mockNodes =
      mkNodes(stubNames, NodeTypes.Mock, col("name"), meta = map(lit("kind"), lit("mock")))

    // Package: tool-prefix namespace as a first-class node (Package variant,
    // mod.rs:30-56); Corpus -CONTAINS-> Package -CONTAINS-> Tool below
    val packageNodes = mkNodes(pkgPairs.select(col("name")).distinct(),
      NodeTypes.Package, col("name"), meta = map(lit("kind"), lit("package")))

    // Concept: curated dictionary topic with observed members (Concept
    // variant + Concept-Includes-anything, mod.rs:30-56,83-99)
    val conceptNodes = mkNodes(conceptMembers.select(col("topic")).distinct(),
      NodeTypes.Concept, col("topic"), meta = map(lit("kind"), lit("concept")))

    // import section: one node per conversation, tools concatenated in turn
    // order (B4 combine_import_sections, builder/utils.rs:158-218)
    val importNodes0 = toolTurns
      .groupBy(col("conv_id"))
      .agg(
        min(col("turn_idx")).as("turn_idx"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("tool")))),
            x => x.getField("tool")
          ),
          "\n"
        ).as("body")
      )
    val importNodes =
      mkNodes(importNodes0, NodeTypes.Import, lit("imports"), col("conv_id"), col("turn_idx"),
        body = col("body"))

    // MERGE semantics (A6) WITHOUT a global dedup exchange: every branch
    // emits key-unique rows by construction (groupBy/distinct inputs, one
    // Turn per (conv, turn_idx)) and branches emit disjoint node_types /
    // key spaces (stubs live under conv "unverified"), so a global
    // dropDuplicates(node_key) is a no-op that would shuffle the entire
    // node table — at bench scale the two dedup exchanges (nodes + edges)
    // were the largest remaining shuffles. The DuckDB oracle builds nodes
    // with NO global dedup either, so parity checks the invariant every
    // round; the write path (SnapshotTable overwrite) supplies MERGE-on-
    // rewrite semantics for incremental runs.
    val nodes =
      Seq(spine, toolNodes, entityNodes, fnNodes, stubNodes, epNodes, reqNodes,
        importNodes, pageNodes, groupNodes, instanceNodes, dmNodes, varNodes,
        integTestNodes, e2eTestNodes, classNodes, traitNodes, unitTestNodes, mockNodes,
        packageNodes, conceptNodes)
        .reduce(_ unionByName _)

    // --- edges ---------------------------------------------------------
    def edgeC(et: Column, src: Column, dst: Column, conf: Column = nullConf,
        strat: Column = lit("spine")): Seq[Column] =
      Seq(et.as("edge_type"), src.as("src_key"), dst.as("dst_key"),
        conf.cast("double").as("confidence"), strat.as("strategy"))
    def edge(et: String, src: Column, dst: Column, conf: Column = nullConf,
        strat: Column = lit("spine")): Seq[Column] =
      edgeC(lit(et), src, dst, conf, strat)

    // D13 USES-for-external split (btreemap_graph.rs:429-450): a verified
    // call target gets CALLS; an unverified stub target gets USES (the
    // reference's Edge::uses for external/unresolved referents)
    def callEdgeType: Column =
      when(col("strategy") === "unverified", lit(EdgeTypes.Uses)).otherwise(lit(EdgeTypes.Calls))

    val containsConv = tMeta.select(col("conv_id")).distinct()
      .select(edge(EdgeTypes.Contains, key(NodeTypes.Corpus, lit("corpus")),
        key(NodeTypes.Conversation, col("conv_id"), col("conv_id"))): _*)
    val containsTurn = tMeta
      .select(edge(EdgeTypes.Contains, key(NodeTypes.Conversation, col("conv_id"), col("conv_id")),
        key(NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx"))): _*)
    val ofRole = tMeta
      .select(edge(EdgeTypes.Of, key(NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx")),
        key(NodeTypes.Role, col("role"))): _*)
    val usesTool = toolTurns
      .select(edge(EdgeTypes.Uses, key(NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx")),
        key(NodeTypes.Tool, col("tool")), strat = lit("tool_column")): _*)
    // pre-key dedup on compact natural columns (a turn re-mentioning the
    // same canonical entity emits one edge) — dedup BEFORE key strings are
    // built, so the exchange moves 4 small columns, not 2 long keys
    val mentionsE = resolvedEntities
      .select("conv_id", "turn_idx", "canonical", "confidence", "strategy")
      .distinct()
      .select(edge(EdgeTypes.Mentions,
        key(NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx")),
        key(NodeTypes.Entity, col("canonical")), col("confidence"), col("strategy")): _*)

    // a handler Function node's first-definition turn, joined on
    // (fn_name, conv_id) by every edge that targets a defined function
    val fnFirstDef = fnNodes0.select(col("name").as("fn_name"), col("conv_id"),
      col("turn_idx").as("def_turn"))

    // CALLS: calling turn -> resolved function node (first def turn in the
    // resolved conversation) or unverified stub (D13 semantics). The join is
    // on resolved_name: the operand strategy can retarget a call to a
    // sibling handler of the same canonical entity.
    // 2 consumers (turn-src + test-src edges): share the resolved-target join
    val resolvedTargets = resolvedCalls
      .join(
        fnFirstDef.select(col("fn_name").as("resolved_name"), col("conv_id").as("resolved_conv"),
          col("def_turn")),
        Seq("resolved_name", "resolved_conv"),
        "left")
      .withColumn(
        "target_key",
        when(col("def_turn").isNull, key(NodeTypes.Function, col("name"), lit("unverified")))
          .otherwise(
            key(NodeTypes.Function, col("resolved_name"), col("resolved_conv"), col("def_turn"))))
      .lcp(eager = false)
    val callsFn = resolvedTargets
      .select(edgeC(
        callEdgeType,
        key(NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx")),
        col("target_key"),
        col("confidence"), col("strategy")): _*)

    // B14/D12 test-CALLS edges: the IntegrationTest node of each rerun turn
    // calls its cascade-resolved target (linker.rs:34-211); same D13 split
    val testCallsE = resolvedTargets
      .select(edgeC(
        callEdgeType,
        key(NodeTypes.IntegrationTest, col("name"), col("conv_id"), col("turn_idx")),
        col("target_key"),
        col("confidence"), col("strategy")): _*)

    // E5 analog: an E2eTest exercises the Page surface its template path
    // names (linker.rs:213-235)
    val e2eCallsE = e2eRows
      .select(edge(EdgeTypes.Calls,
        key(NodeTypes.E2eTest, col("name"), col("conv_id"), col("turn_idx")),
        key(NodeTypes.Page, col("res")), strat = lit("e2e_page")): _*)

    // D10 instance-of: observed alias -OF-> canonical Entity cluster
    // (Edge::of, btreemap_graph.rs:250)
    val ofInstanceE = instanceIds
      .select(edge(EdgeTypes.Of, key(NodeTypes.Instance, col("name")),
        key(NodeTypes.Entity, col("canonical")), strat = lit("instance_of")): _*)

    // D16: defining function -CONTAINS-> the DataModel contracts in its body
    val dmContainsE = dmWithin
      .join(fnFirstDef, Seq("fn_name", "conv_id"))
      .select(edge(EdgeTypes.Contains,
        key(NodeTypes.Function, col("fn_name"), col("conv_id"), col("def_turn")),
        key(NodeTypes.DataModel, col("cluster")), strat = lit("data_model")): _*)

    // B5: turn -CONTAINS-> its Var binding (from the Var NODE frame)
    val varContainsE = varNodes
      .select(edge(EdgeTypes.Contains,
        key(NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx")),
        key(NodeTypes.Var, col("name"), col("conv_id"), col("turn_idx")),
        strat = lit("var_decl")): _*)

    // HANDLER: endpoint identity -> handler function of the declaring turn.
    // Dedup PRE-key on the compact natural columns (same rationale as
    // mentionsE): (ep, verb, fn, conv) is the full edge identity once joined
    // to the unique first-def turn, so the distinct's exchange moves 4 short
    // columns instead of two built key strings.
    val handlerE = endpoints
      .select(
        PathNorm.canonical(PathNorm.normalizeBackend(col("path"))).as("ep_name"),
        col("verb"), col("conv_id"), col("turn_idx"))
      .join(
        fnDefs.select(col("conv_id"), col("turn_idx"), col("name").as("fn_name")),
        Seq("conv_id", "turn_idx"))
      .select("ep_name", "verb", "fn_name", "conv_id")
      .distinct()
      .join(fnFirstDef, Seq("fn_name", "conv_id"))
      .select(edge(EdgeTypes.Handler,
        key(NodeTypes.Endpoint, col("ep_name"), verb = Some(col("verb"))),
        key(NodeTypes.Function, col("fn_name"), col("conv_id"), col("def_turn")),
        strat = lit("handler")): _*)

    // D9 analog: the turn owning a Request gets CALLS(turn -> request),
    // as the reference emits CALLS(fn -> request) (btreemap_graph.rs:257-313)
    val callsReq = requests
      .select(edge(EdgeTypes.Calls, key(NodeTypes.Turn, turnName, col("conv_id"), col("turn_idx")),
        key(NodeTypes.Request, col("name"), col("conv_id"), col("turn_idx")),
        strat = lit("request_in_turn")): _*)

    val callsApi = apiLinks
      .select(edge(EdgeTypes.Calls,
        key(NodeTypes.Request, col("req_path"), col("conv_id"), col("turn_idx")),
        key(NodeTypes.Endpoint, col("norm_path"), verb = Some(col("verb"))),
        strat = lit("api_link")): _*)

    // B15 collect_import_edges analog: the per-conversation Import section
    // node -IMPORTS-> each Tool it names (parse/collect.rs:424-581);
    // sourced from the text-free meta twin (NOT `t`): same columns, a
    // tenth of the bytes
    val importsE = toolTurns
      .select(col("conv_id"), col("tool"))
      .distinct()
      .join(importNodes0.select(col("conv_id"), col("turn_idx")), Seq("conv_id"))
      .select(edge(EdgeTypes.Imports,
        key(NodeTypes.Import, lit("imports"), col("conv_id"), col("turn_idx")),
        key(NodeTypes.Tool, col("tool")), strat = lit("import_section")): _*)

    // C5 find_function_parent analog (method -> owning Class operand edge,
    // queries/mod.rs:156-166): the service Tool owns the handler Function
    // its turns define
    val operandE = fnDefs
      .select(col("conv_id"), col("turn_idx"), col("name").as("fn_name"))
      .join(toolTurns.select(col("conv_id"), col("turn_idx"), col("tool")),
        Seq("conv_id", "turn_idx"))
      .join(fnFirstDef, Seq("fn_name", "conv_id"))
      .select(edge(EdgeTypes.Operand, key(NodeTypes.Tool, col("tool")),
        key(NodeTypes.Function, col("fn_name"), col("conv_id"), col("def_turn")),
        strat = lit("tool_owner")): _*)
      .distinct()

    // D15 class_inherits analog: longest-prefix group -PARENT_OF-> endpoint
    val parentOfE = epIds
      .withColumn("grp", endpointGroup(col("name")))
      .where(length(col("grp")) > 0)
      .select(edge(EdgeTypes.ParentOf, key(NodeTypes.EndpointGroup, col("grp")),
        key(NodeTypes.Endpoint, col("name"), verb = Some(col("verb"))),
        strat = lit("endpoint_group")): _*)

    // B12 renders: page -RENDERS-> the endpoints serving its resource
    val rendersE = epIds
      .withColumn("res", apiResource(col("name")))
      .join(pageIds.withColumnRenamed("name", "res"), Seq("res"))
      .select(edge(EdgeTypes.Renders, key(NodeTypes.Page, col("res")),
        key(NodeTypes.Endpoint, col("name"), verb = Some(col("verb"))),
        strat = lit("renders")): _*)

    // the canonical entity cluster each handler Function's name derives
    // from; one row per (fn name, conv) — unique by fnNodes0 grouping
    val fnClusters = fnNodes0
      .withColumn("alias", regexp_replace(col("name"), "_handler$", ""))
      .join(broadcast(dictDf), Seq("alias"))
      .join(broadcast(clusters), Seq("canonical"))

    // B7/D15 implements: a handler function -IMPLEMENTS-> the canonical
    // entity contract its name is derived from (trait analog); targets use
    // the post-canonicalization cluster identity
    val implementsE = fnClusters
      .select(edge(EdgeTypes.Implements,
        key(NodeTypes.Function, col("name"), col("conv_id"), col("turn_idx")),
        key(NodeTypes.Entity, col("cluster")), strat = lit("implements")): _*)

    // Class -OPERAND-> its method Functions (find_function_parent analog:
    // the handler's owning class is the canonical cluster its name derives
    // from)
    val classMethodE = fnClusters
      .select(edge(EdgeTypes.Operand, key(NodeTypes.Class, col("cluster")),
        key(NodeTypes.Function, col("name"), col("conv_id"), col("turn_idx")),
        strat = lit("class_method")): _*)

    // Class -IMPLEMENTS-> Trait (class_includes analog): one row per
    // observed canonical in the cluster dimension
    val classImplE = clusters
      .select(edge(EdgeTypes.Implements, key(NodeTypes.Class, col("cluster")),
        key(NodeTypes.Trait, col("canonical")), strat = lit("class_includes")): _*)

    // UnitTest -CALLS-> its same-conversation target (TestType::Unit)
    val unitCallsE = resolvedTargets
      .where(col("strategy") === "same_conv")
      .select(edgeC(lit(EdgeTypes.Calls),
        key(NodeTypes.UnitTest, col("name"), col("conv_id"), col("turn_idx")),
        col("target_key"),
        col("confidence"), col("strategy")): _*)

    // Mock -OF-> the unverified stub Function it stands in for
    val mockOfE = stubNames
      .select(edge(EdgeTypes.Of, key(NodeTypes.Mock, col("name")),
        key(NodeTypes.Function, col("name"), lit("unverified")), strat = lit("mock_of")): _*)

    // NESTED_IN edges from the nested0 range join computed in the node
    // section (it also feeds Request meta)
    val nestedInE = nested0
      .join(fnFirstDef, Seq("fn_name", "conv_id"))
      .select(edge(EdgeTypes.NestedIn,
        key(NodeTypes.Request, col("req_name"), col("conv_id"), col("turn_idx")),
        key(NodeTypes.Function, col("fn_name"), col("conv_id"), col("def_turn")),
        strat = lit("nested_scope")): _*)

    // Corpus -CONTAINS-> Package -CONTAINS-> Tool: the package namespace
    // spine (reference Package containment); both branches unique by the
    // distinct'd (prefix, tool) dimension
    val pkgCorpusE = pkgPairs
      .select(col("name")).distinct()
      .select(edge(EdgeTypes.Contains, key(NodeTypes.Corpus, lit("corpus")),
        key(NodeTypes.Package, col("name")), strat = lit("corpus_package")): _*)
    val pkgToolE = pkgPairs
      .select(edge(EdgeTypes.Contains, key(NodeTypes.Package, col("name")),
        key(NodeTypes.Tool, col("tool")), strat = lit("package_tool")): _*)

    // Concept -INCLUDES-> member Entity cluster (mod.rs:83-99)
    val includesE = conceptMembers
      .select(edge(EdgeTypes.Includes, key(NodeTypes.Concept, col("topic")),
        key(NodeTypes.Entity, col("cluster")), strat = lit("concept_includes")): _*)

    val edges = Seq(containsConv, containsTurn, ofRole, usesTool, mentionsE, callsFn, handlerE)
      .reduce(_ unionByName _)
      .unionByName(callsReq)
      .unionByName(callsApi)
      .unionByName(importsE)
      .unionByName(operandE)
      .unionByName(parentOfE)
      .unionByName(rendersE)
      .unionByName(implementsE)
      .unionByName(nestedInE)
      .unionByName(testCallsE)
      .unionByName(e2eCallsE)
      .unionByName(ofInstanceE)
      .unionByName(dmContainsE)
      .unionByName(varContainsE)
      .unionByName(classMethodE)
      .unionByName(classImplE)
      .unionByName(unitCallsE)
      .unionByName(mockOfE)
      .unionByName(pkgCorpusE)
      .unionByName(pkgToolE)
      .unionByName(includesE)
    // sorted-set dedup (D1) is PER-BRANCH, pre-key, on compact natural
    // columns (mentionsE below; handlerE/operandE carry their own distinct;
    // every other branch is unique by construction: ≤1 handler/verb-path
    // mention per turn, distinct'd dimension inputs). A global distinct()
    // would re-shuffle all ~N_edges wide rows to eliminate nothing — the
    // oracle's SELECT DISTINCT edges proves the no-dup invariant each round.
    Graph(nodes, edges, mentions)
  }
}
