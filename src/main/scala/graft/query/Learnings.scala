package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.datapipe.Ann

/** Learning + Scope system — the reference MCP server's bolt-on rule store
  * (mcp/src/graph/learnings.ts:19-196, neo4j.ts:962-1090): Learning nodes
  * carry a rule text with an embedded vector, Scope nodes name the areas a
  * rule applies to, HAS_SCOPE edges connect them, and retrieval is a
  * two-stage funnel — pick relevant scopes, then rank that scope-gated
  * candidate set against the prompt.
  *
  * Transcript-domain re-expression (deterministic, so the DuckDB oracle can
  * verify it end-to-end):
  *  - one Learning per conversation that produced a tool observation: the
  *    rule is the conversation's FIRST tool turn's text (the observed
  *    behavior worth remembering), the reason its first user turn's text
  *    (what prompted it) — the analog of learnings.ts's {id, rule, reason};
  *  - Scopes are the distinct `tool` services the conversation touched
  *    (upsert_scope dedups by name; HAS_SCOPE = the (learning, scope)
  *    membership pairs, here carried as a sorted array column);
  *  - the reference's two LLM selection calls (scope pick + learning pick,
  *    learnings.ts:104-186) have no model runtime in this sandbox, so each
  *    gets the repo's documented honest-stub treatment: the scope pick is a
  *    deterministic prompt-contains-scope-name gate, and the learning pick
  *    ranks candidates by cosine between the md5-derived stub embeddings of
  *    rule and prompt (the same [[Ann.nodeEmbedding]] vectors the node
  *    vector surface uses — exactly where vectorizeQuery() plugs in).
  *
  * These stay query-layer-derived rather than joining the build DAG: the
  * reference writes Learning/Scope nodes from the MCP server ad hoc, outside
  * build_graph(), so grafting them into the build would misstate the
  * reference's own architecture.
  *
  * Scale shape: [[learnings]] is ONE aggregation keyed by conv_id — the same
  * key every build-side shuffle uses, so at 100 TB it co-partitions with the
  * corpus and never shuffles globally more than once. Scopes are a tiny
  * dimension (distinct service names); the retrieval funnel broadcasts them
  * and ends in a TakeOrdered(k), never a global sort.
  */
object Learnings {
  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  private def cosine(a: Column, b: Column) =
    toCol(graft.functions.CosineSim(toExpr(a), toExpr(b)))

  /** All learnings with their scope sets — get_all_learnings_with_scopes
    * (neo4j.ts:1035-1054): (id, rule, reason, scopes sorted). Conversations
    * with no tool turn emit nothing (no rule to learn).
    */
  def learnings(t: DataFrame): DataFrame =
    t.groupBy(col("conv_id").as("id"))
      .agg(
        // min over (turn_idx, text) structs = arg-min by the unique
        // within-conversation turn_idx; when() nulls exclude other roles
        min(when(col("role") === "tool", struct(col("turn_idx"), col("text"))))
          .getField("text").as("rule"),
        min(when(col("role") === "user", struct(col("turn_idx"), col("text"))))
          .getField("text").as("reason"),
        array_sort(collect_set(col("tool"))).as("scopes")
      )
      .where(col("rule").isNotNull)

  /** A scope set as one comparable scalar: sorted, comma-joined. Checked
    * queries return this instead of the array column, which the driver's
    * comparer cannot sort; the stored table keeps its array.
    */
  def scopesText(scopes: Column): Column = array_join(array_sort(scopes), ",")

  /** Scope inventory — get_all_scopes (neo4j.ts:1056-1064) plus the
    * HAS_SCOPE in-degree (how many learnings carry each scope).
    */
  def scopes(t: DataFrame): DataFrame = scopesOver(learnings(t))

  /** [[scopes]] over a pre-materialized learnings table (the serving path:
    * the rule store is written once, queried many times).
    */
  def scopesOver(l: DataFrame): DataFrame =
    l.select(col("id"), explode(col("scopes")).as("scope"))
      .groupBy("scope")
      .agg(count(lit(1)).as("n_learnings"))

  /** Scoped retrieval — post_relevant_learnings (learnings.ts:84-196):
    * (1) scopes relevant to the prompt (deterministic gate: the prompt
    * mentions the scope name — the LLM scope-pick stand-in), (2) candidate
    * learnings carrying any relevant scope (get_learnings_by_scopes,
    * neo4j.ts:1066-1090), (3) top-k candidates by stub-embedding cosine
    * between rule and prompt (the LLM learning-pick stand-in).
    */
  def relevant(t: DataFrame, prompt: String, k: Int): DataFrame =
    relevantOver(learnings(t), prompt, k)

  /** [[relevant]] over a pre-materialized learnings table. */
  def relevantOver(l: DataFrame, prompt: String, k: Int): DataFrame = {
    val rel = l
      .select(explode(col("scopes")).as("scope")).distinct()
      .where(lit(prompt).contains(col("scope")))
    val cand = l
      .withColumn("scope", explode(col("scopes")))
      .join(broadcast(rel), "scope")
      .drop("scope")
      // a candidate matched once per relevant scope it carries; the
      // duplicate rows are identical, so any-row dedup is deterministic
      .dropDuplicates("id")
    cand
      .withColumn("e", Ann.nodeEmbedding(col("id"), col("rule")))
      .withColumn("q", Ann.nodeEmbedding(lit("prompt"), lit(prompt)))
      .select(col("id"), col("rule"), col("scopes"),
        cosine(col("e"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(k)
  }
}
