package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Path normalization + Request→Endpoint linking (reference E1–E3:
  * ast/src/lang/linker.rs:362-470).
  *
  * The reference normalizes both sides to a canonical parameterized form and
  * its `paths_match` (linker.rs:481-506) additionally lets a `:param` segment
  * match a concrete one. We realize that as a PURE EQUI-JOIN by canonicalizing
  * concrete variable segments (numeric ids) to `:param` on both sides first —
  * at scale a segment-wise theta-join would be quadratic; the equi-join on
  * (canonical_path, verb) shuffles once on a well-distributed key.
  *
  * All regexp_replace chains — Catalyst-native, codegen'd, DuckDB-expressible.
  */
object PathNorm {

  /** normalize_frontend_path (linker.rs:398-430): strip scheme/host,
    * `${...}` templates → `:param`, drop a leading template segment.
    */
  def normalizeFrontend(c: Column): Column = {
    val noHost = regexp_replace(c, "^https?://[^/]+", "")
    val params = regexp_replace(noHost, "\\$\\{[^}]*\\}", ":param")
    val noLeading = regexp_replace(params, "^:param(?=/)", "")
    rtrimSlash(noLeading)
  }

  /** normalize_backend_path (linker.rs:432-470): `{id}` `{id?}` `:id` `<id>`
    * `(id)` `[...x]` `[x]` → `:param`; trailing slash trimmed.
    */
  def normalizeBackend(c: Column): Column = {
    var p = regexp_replace(c, "\\{[^}]*\\}", ":param")
    p = regexp_replace(p, "<[^>]*>", ":param")
    p = regexp_replace(p, "\\([^)]*\\)", ":param")
    p = regexp_replace(p, "\\[\\.\\.\\.[^\\]]*\\]", ":param")
    p = regexp_replace(p, "\\[[^\\]]*\\]", ":param")
    p = regexp_replace(p, "(?<=/):(?!param)[A-Za-z0-9_]+", ":param")
    rtrimSlash(p)
  }

  /** paths_match canonicalization (linker.rs:481-506): concrete id segments
    * (all-numeric) become `:param` so param↔concrete pairs equi-join.
    */
  def canonical(c: Column): Column =
    regexp_replace(c, "/[0-9]+(?=/|$)", "/:param")

  private def rtrimSlash(c: Column): Column =
    when(c =!= "/", regexp_replace(c, "/+$", "")).otherwise(c)

  /** D14 endpoint group (btreemap_graph.rs:523-602): a path's `/a/b`
    * prefix, "" for a shorter path.
    */
  def endpointGroup(path: Column): Column = regexp_extract(path, "^(/[^/]+/[^/]+)", 1)

  /** B12 API resource: the lower-case `x` of a path `/api/x...`, "" for
    * any other path.
    */
  def apiResource(path: Column): Column = regexp_extract(path, "^/api/([a-z]+)", 1)

  /** E4 INDIRECT test linking (linker.rs:96-134): requests reachable from an
    * IntegrationTest through its helper functions — test -CALLS-> helper,
    * helper -CALLS-> nested helper (ONE recursion level, matching
    * `get_requests_from_nested_helper`), requests attached to a helper by an
    * explicit CALLS edge OR by scope containment (which the build already
    * materialized as the NESTED_IN range join, so the reference's per-test
    * spatial scan becomes an edge equi-join here) — then matched against the
    * endpoint index on (normalized path, verb) (linker.rs:50-58).
    *
    * The reference annotates the endpoint node meta with `indirect_test` and
    * `test_helper` (asg.rs add_indirect_test/add_test_helper); we return the
    * annotation rows themselves: one per (endpoint, verb, test, TOP-level
    * helper) — the reference also credits the top-level helper for requests
    * found under its nested helpers.
    *
    * Scale shape: every hop is a key equi-join on node_key (shuffles line up
    * on the same key); the endpoint dimension is distinct'd and broadcast.
    * No per-test driver loop — the reference's O(tests × functions) scan is
    * one distributed join DAG.
    */
  def linkTestsIndirect(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val calls = edges
      .where(col("edge_type") === "CALLS")
      .select("src_key", "dst_key")
    val tests = nodes
      .where(col("node_type") === "IntegrationTest")
      .select(col("node_key").as("test_key"), col("name").as("indirect_test"))
    val fns = nodes
      .where(col("node_type") === "Function")
      .select(col("node_key").as("fn_key"), col("name").as("test_helper"))
    // get_called_helpers: test -CALLS-> Function
    val helpers = tests
      .join(calls, col("test_key") === col("src_key"))
      .join(fns, col("dst_key") === col("fn_key"))
      .select("indirect_test", "fn_key", "test_helper")
    // one nested level; the annotation keeps the TOP-level helper's name
    val nestedHelpers = helpers
      .select(col("indirect_test"), col("fn_key").as("h_key"), col("test_helper"))
      .join(calls, col("h_key") === col("src_key"))
      .join(fns.select(col("fn_key")), col("dst_key") === col("fn_key"))
      .select("indirect_test", "fn_key", "test_helper")
    val reach = helpers.unionByName(nestedHelpers).distinct()
    val reqs = nodes
      .where(col("node_type") === "Request")
      .select(
        col("node_key").as("req_key"),
        col("name").as("req_path"),
        upper(element_at(col("meta"), "verb")).as("verb"))
    // requests of a helper: explicit CALLS(helper -> request) ...
    val viaCalls = reach
      .join(calls, col("fn_key") === col("src_key"))
      .join(reqs, col("dst_key") === col("req_key"))
    // ... or scope containment, pre-joined by the build as NESTED_IN
    val nestedIn = edges
      .where(col("edge_type") === "NESTED_IN")
      .select(col("src_key").as("req_key"), col("dst_key").as("scope_key"))
    val viaScope = reach
      .join(nestedIn, col("fn_key") === col("scope_key"))
      .join(reqs, Seq("req_key"))
    val annotated = Seq(viaCalls, viaScope)
      .map(_.select(col("indirect_test"), col("test_helper"), col("req_path"), col("verb")))
      .reduce(_ unionByName _)
    // endpoint index on (normalized path, verb): endpoint names are stored
    // canonical, so only the request side normalizes
    val eps = nodes
      .where(col("node_type") === "Endpoint")
      .select(col("name").as("endpoint"), upper(element_at(col("meta"), "verb")).as("verb"))
      .distinct()
    annotated
      .withColumn("endpoint", canonical(normalizeFrontend(col("req_path"))))
      .join(broadcast(eps), Seq("endpoint", "verb"))
      .select("endpoint", "verb", "indirect_test", "test_helper")
      .distinct()
  }

  /** link_api_nodes (E1, linker.rs:362-396): Request→Endpoint CALLS edges on
    * (canonical path, verb).
    *
    * The reference first DEDUPLICATES endpoints by (name, file, verb)
    * (D11, btreemap_graph.rs:352-372) and links requests against that
    * endpoint index — never against every declaration site. We do the same:
    * the build side is `distinct (canonical path, verb)` (dimension-sized →
    * broadcast), so a request links to exactly one endpoint identity and the
    * join can never blow up quadratically on popular endpoints.
    *
    * Output: one row per request mention with its endpoint identity key.
    */
  def linkApi(requests: DataFrame, endpoints: DataFrame): DataFrame = {
    val req = requests
      .withColumn("norm_path", canonical(normalizeFrontend(col("path"))))
    val ep = endpoints
      .withColumn("norm_path", canonical(normalizeBackend(col("path"))))
      .select("norm_path", "verb")
      .distinct()
    req
      .join(broadcast(ep), Seq("norm_path", "verb"))
      .select(
        col("conv_id"),
        col("turn_idx"),
        col("verb"),
        col("norm_path"),
        concat_ws("-", lit("endpoint"), col("norm_path"), col("verb")).as("endpoint_id"),
        col("path").as("req_path")
      )
  }
}
