package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Canonical-identity column functions.
  *
  * Mirrors the reference's `create_node_key` / `sanitize_string`
  * (ast/src/utils.rs:82-136, 219-225): lowercase, strip non-alphanumerics,
  * join components with '-'. We replace the reference's random UUID `ref_id`
  * (ast/src/lang/graphs/mod.rs:131) with `sha2(node_key, 256)` so identity is
  * deterministic across runs — required for resume idempotence and parity.
  *
  * Implementation note: the obvious Catalyst form
  * `lower(regexp_replace(c, "[^a-zA-Z0-9]", ""))` is the hot path of the
  * whole build (two keys per edge, ~4 components per key → tens of millions
  * of regexp evaluations) and measured ~14× slower than a character loop at
  * bench scale. Every key is therefore one [[SanitizeKeyParts]] expression
  * over all its components, a byte loop inside whole-stage codegen with the
  * exact same semantics: ASCII letters lowercased, ASCII digits kept, every
  * other byte dropped (multi-byte UTF-8 chars are non-ASCII bytes → dropped,
  * matching the regexp class), null components skipped as concat_ws does.
  * The DuckDB oracle twin stays
  * `lower(regexp_replace(x, '[^a-zA-Z0-9]', '', 'g'))`.
  */
object Keys {

  /** node_key = sanitize(type)-sanitize(name)-sanitize(conv)-sanitize(turn),
    * then sanitize(verb) when a verb is given (utils.rs:82-136: the
    * reference's NodeKeys carry an optional verb; here only Endpoint keys
    * set it — Request keys carry none). A null verb is skipped like any null
    * part. Name capped at 2000 chars before sanitize, key semantics per
    * reference. The engine's one caller is `graft.pipeline.GraphBuild`'s
    * `key`, which keys every node and edge endpoint.
    */
  def nodeKey(nodeType: Column, name: Column, convId: Column, turnIdx: Column,
      verb: Option[Column] = None): Column = {
    val parts = Seq(nodeType, substring(name, 1, 2000), convId, turnIdx.cast("string")) ++ verb
    GraftColumnBridge.column(SanitizeKeyParts(parts.map(GraftColumnBridge.expression)))
  }

  /** Deterministic ref_id (replaces UUID v4; see Scaladoc above). */
  def refId(nodeKey: Column): Column = sha2(nodeKey, 256)
}
