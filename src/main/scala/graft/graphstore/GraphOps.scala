package graft.graphstore

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.link.PathNorm
import graft.query.Resident

/** Graph-store operator surface — re-expression of the reference's `Graph`
  * trait (ast/src/lang/graphs/graph.rs:11-209; BTreeMap impl cited per-op).
  * The node lookups (D3–D5) are filters over the resident node leaf of the
  * node frame ([[Resident.nodes]]), decoded once per frame and projected
  * back to the frame's columns: the stand-in for the reference's resident
  * BTreeMap key-prefix range scans (btreemap_graph.rs:81-114). The other
  * operators are declarative filters/joins over the node/edge tables.
  */
object GraphOps {

  /** Rows of the node leaf of `nodes` that satisfy `cond`, with `nodes`'
    * own columns: the lookups' one scan.
    */
  private def lookup(nodes: DataFrame, cond: Column): DataFrame =
    Resident.nodes(nodes).where(cond).select(nodes.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)

  /** D3 find_nodes_by_name (btreemap_graph.rs:81-94). */
  def findNodesByName(nodes: DataFrame, nodeType: String, name: String): DataFrame =
    lookup(nodes, col("node_type") === nodeType && col("name") === name)

  /** D4 lookup family (graph.rs:117-204): suffix / substring / range. */
  def findNodesNameContains(nodes: DataFrame, nodeType: String, sub: String): DataFrame =
    lookup(nodes, col("node_type") === nodeType && col("name").contains(sub))

  def findNodeInRange(nodes: DataFrame, convId: String, lo: Int, hi: Int): DataFrame =
    lookup(nodes, col("conv_id") === convId && col("turn_idx").between(lo, hi))

  /** D4 suffix lookup (find_node_by_name_ends_with, graph.rs:117-204). */
  def findNodesNameEndsWith(nodes: DataFrame, nodeType: String, suffix: String): DataFrame =
    lookup(nodes, col("node_type") === nodeType && col("name").endsWith(suffix))

  /** D5 find_nodes_by_type (btreemap_graph.rs:978-985). */
  def findNodesByType(nodes: DataFrame, nodeType: String): DataFrame =
    lookup(nodes, col("node_type") === nodeType)

  /** D6 find_nodes_with_edge_type (btreemap_graph.rs:987-1010):
    * (srcType, dstType, edgeType) -> joined (src, dst) node pairs.
    */
  def findNodesWithEdgeType(
      nodes: DataFrame,
      edges: DataFrame,
      srcType: String,
      dstType: String,
      edgeType: String
  ): DataFrame = {
    val src = nodes
      .where(col("node_type") === srcType)
      .select(
        col("node_key").as("src_key"),
        col("name").as("src_name"),
        col("conv_id").as("src_conv"),
        col("turn_idx").as("src_turn")
      )
    val dst = nodes
      .where(col("node_type") === dstType)
      .select(col("node_key").as("dst_key"), col("name").as("dst_name"))
    edges
      .where(col("edge_type") === edgeType)
      .join(src, "src_key")
      .join(dst, "dst_key")
      .select("src_name", "src_conv", "src_turn", "dst_name")
  }

  /** D7 count_edges_of_type (btreemap_graph.rs:1011-1019). */
  def countEdgesByType(edges: DataFrame): DataFrame =
    edges.groupBy("edge_type").agg(count(lit(1)).as("n"))

  /** D8 find_source_edge_by_name_and_file (btreemap_graph.rs:217-237):
    * reverse lookup — who points at nodes named `dstName` of `dstType`.
    */
  def findSources(
      nodes: DataFrame,
      edges: DataFrame,
      dstType: String,
      dstName: String
  ): DataFrame = {
    val dst = nodes
      .where(col("node_type") === dstType && col("name") === dstName)
      .select(col("node_key").as("dst_key"))
    edges
      .join(dst, "dst_key")
      .select("edge_type", "src_key")
      .distinct()
  }

  /** D19-flavored prune candidates (btreemap_graph.rs:756-885): Function
    * nodes with no incoming CALLS edge (never called). Left-anti join — the
    * whole prune is two anti-joins at scale, no driver loop.
    */
  def uncalledFunctions(nodes: DataFrame, edges: DataFrame): DataFrame =
    nodes
      .where(col("node_type") === "Function")
      .join(
        edges.where(col("edge_type") === "CALLS").select(col("dst_key").as("node_key")),
        Seq("node_key"),
        "left_anti"
      )
      .select("node_key", "name", "conv_id", "turn_idx")

  /** D21 create_filtered_graph (btreemap_graph.rs:141-164): keep nodes whose
    * conv_id ∈ filter + edges with both ends kept (semi-joins).
    */
  def filteredGraph(
      nodes: DataFrame,
      edges: DataFrame,
      convFilter: DataFrame
  ): (DataFrame, DataFrame) = {
    val kept = nodes
      .join(convFilter, Seq("conv_id"), "left_semi")
      .unionByName(nodes.where(col("conv_id") === ""))
    (kept, induced(edges, kept.select(col("node_key"))))
  }

  /** The edges of the subgraph induced by `keys` (one column, `node_key`):
    * those whose `src_key` and `dst_key` are both keys. Two left-semi prunes
    * of the edge table against the key set.
    */
  def induced(edges: DataFrame, keys: DataFrame): DataFrame =
    edges
      .join(keys.withColumnRenamed("node_key", "src_key"), Seq("src_key"), "left_semi")
      .join(keys.withColumnRenamed("node_key", "dst_key"), Seq("dst_key"), "left_semi")

  /** D23 get_graph_size / key sets: per-type counts for parity checks. */
  def graphSize(nodes: DataFrame, edges: DataFrame): DataFrame =
    nodes
      .groupBy(col("node_type").as("kind"))
      .agg(count(lit(1)).as("n"))
      .withColumn("kind", concat(lit("node:"), col("kind")))
      .unionByName(
        edges
          .groupBy(col("edge_type").as("kind"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind", concat(lit("edge:"), col("kind")))
      )

  /** G13 changes (cli/src/changes.rs; gat.rs:4 get_changed_files): key-set
    * difference between two node snapshots.
    */
  def changedKeys(before: DataFrame, after: DataFrame): DataFrame =
    before.select("node_key").exceptAll(after.select("node_key"))

  /** H4 muted-state preserve/restore (graph_ops.rs:516-584): user state
    * (muted flags, dynamic annotations) survives a full rebuild by joining
    * a stable user-state table back on the canonical node_key — possible
    * only because keys are content-derived, not UUIDs.
    */
  def restoreUserState(nodes: DataFrame, state: DataFrame): DataFrame =
    nodes
      .join(state.select(col("node_key"), col("muted")), Seq("node_key"), "left")
      .withColumn("muted", coalesce(col("muted"), lit(false)))

  /** D19+D20 prune (btreemap_graph.rs:756-885 + 708-716): remove
    * never-called Function nodes AND every incident edge, returning the
    * rewritten graph. 'Uncalled' stands in for the reference's 3-source
    * orphan definition, which degenerates here (every non-stub function is
    * a handler-edge target). Two anti-joins + two edge semi-filters — no
    * driver loop, scale-safe.
    */
  def pruneUncalledFunctions(nodes: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val pruned = uncalledFunctions(nodes, edges).select("node_key")
    val keptNodes = nodes.join(pruned, Seq("node_key"), "left_anti")
    val keptEdges = edges
      .join(pruned.withColumnRenamed("node_key", "src_key"), Seq("src_key"), "left_anti")
      .join(pruned.withColumnRenamed("node_key", "dst_key"), Seq("dst_key"), "left_anti")
    (keptNodes, keptEdges)
  }

  /** D20 remove_node (btreemap_graph.rs:708-716): one node + incident edges. */
  def removeNode(nodes: DataFrame, edges: DataFrame, key: String): (DataFrame, DataFrame) = {
    val keptNodes = nodes.where(col("node_key") =!= key)
    val keptEdges = edges.where(col("src_key") =!= key && col("dst_key") =!= key)
    (keptNodes, keptEdges)
  }

  /** D18 deduplicate_nodes (btreemap_graph.rs:718-754): drop an unverified
    * Function stub when a same-name function exists in a real conversation
    * AND that keeper is an OPERAND-edge target (the reference keeps the
    * Class-owned method). Returns the surviving Function nodes.
    */
  def dedupStubFunctions(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val operandTargets = edges
      .where(col("edge_type") === "OPERAND")
      .select(col("dst_key").as("node_key"))
      .distinct()
    val keepNames = nodes
      .where(col("node_type") === "Function" && col("conv_id") =!= "unverified")
      .join(operandTargets, Seq("node_key"), "left_semi")
      .select("name")
      .distinct()
    val stubsToDrop = nodes
      .where(col("node_type") === "Function" && col("conv_id") === "unverified")
      .join(keepNames, Seq("name"), "left_semi")
      .select("node_key")
    nodes
      .where(col("node_type") === "Function")
      .join(stubsToDrop, Seq("node_key"), "left_anti")
  }

  /** D17 filter_out_nodes_without_children (btreemap_graph.rs:664-706):
    * keep Conversation parents that own at least one real Function child.
    */
  def convsWithFunctions(nodes: DataFrame): DataFrame =
    nodes
      .where(col("node_type") === "Conversation")
      .join(
        nodes
          .where(col("node_type") === "Function" && col("conv_id") =!= "unverified")
          .select("conv_id")
          .distinct(),
        Seq("conv_id"),
        "left_semi"
      )

  /** D22 extend_graph (btreemap_graph.rs:43-47): merge two graphs with
    * MERGE-by-key dedup (identical keys carry identical rows here).
    */
  def extendGraph(
      n1: DataFrame, e1: DataFrame, n2: DataFrame, e2: DataFrame
  ): (DataFrame, DataFrame) =
    (n1.unionByName(n2).dropDuplicates("node_key"), e1.unionByName(e2).distinct())

  /** G10 degree/importance writeback (mcp/src/graph/queries.ts:1065-1141):
    * in/out degree plus entry (no callers, has callees), utility (callees
    * none, callers some), and hub (in*out) scores per node.
    */
  def degrees(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val outd = edges.groupBy(col("src_key").as("node_key")).agg(count(lit(1)).as("out_degree"))
    val ind = edges.groupBy(col("dst_key").as("node_key")).agg(count(lit(1)).as("in_degree"))
    nodes
      .select("node_key")
      .join(outd, Seq("node_key"), "left")
      .join(ind, Seq("node_key"), "left")
      .na.fill(0L, Seq("in_degree", "out_degree"))
      .withColumn("entry_score", col("in_degree") === 0 && col("out_degree") > 0)
      .withColumn("utility_score", col("out_degree") === 0 && col("in_degree") > 0)
      .withColumn("hub_score", col("in_degree") * col("out_degree"))
  }

  /** D14 process_endpoint_groups (btreemap_graph.rs:523-602): endpoint
    * identities grouped under their longest matching prefix group. The
    * reference renames nodes AFTER key assignment and must re-key every
    * touching edge via join on the old key; our pipeline groups at the
    * MENTION level, before keys exist (SURVEY.md §7.5 item 8), so the
    * rename is a single projection and no edge rewrite is ever needed.
    * Input: endpoint mention rows (name = normalized path, verb).
    */
  def endpointGroups(endpointIds: DataFrame): DataFrame =
    endpointIds
      .withColumn("grp", PathNorm.endpointGroup(col("name")))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_endpoints"),
        min(col("name")).as("sample_path")
      )
}
