package graft

import graft.canon.Canon
import graft.extract.Dictionary
import graft.similarity.Lsh
import graft.sources.Transcripts

/** DuckDB oracle fragments for the graph tables. Mirrors GraphBuild exactly;
  * kept programmatic (shared sanitize/key builders) so Spark and oracle can't
  * drift silently. Every query that checks nodes/edges composes
  * [[withGraph]](body).
  */
object Oracles {

  def san(e: String): String = s"lower(regexp_replace($e, '[^a-zA-Z0-9]', '', 'g'))"

  def key4(t: String, n: String, c: String, i: String): String =
    s"concat_ws('-', ${san(t)}, ${san(n)}, ${san(c)}, ${san(s"CAST($i AS VARCHAR)")})"

  def key5(t: String, n: String, c: String, i: String, v: String): String =
    s"concat_ws('-', ${key4(t, n, c, i)}, ${san(v)})"

  val dictValues: String = Dictionary.aliasToCanonical.toSeq.sorted
    .map { case (a, c) => s"('$a','$c')" }
    .mkString(", ")

  val normPath = """regexp_replace(path, '/([0-9]+|\{id\})$', '/:param')"""

  val topicValues: String = Dictionary.conceptTopics
    .map { case (t, c) => s"('$t','$c')" }
    .mkString(", ")

  /** Graph CTEs on top of Transcripts.oracleCte (enriched/transcripts). */
  val graphCte: String = s"""
, dict(alias_name, canonical) AS MATERIALIZED (VALUES $dictValues)
, ments AS (
    SELECT conv_id, turn_idx, alias AS name FROM enriched
    UNION ALL
    SELECT conv_id, turn_idx, 'SparkEngine' FROM enriched WHERE (event_id % 3) = 0
    UNION ALL
    SELECT conv_id, turn_idx, alias2 FROM enriched WHERE role = 'user' AND (event_id % 7) = 3
)
, rents AS MATERIALIZED (
    SELECT m.conv_id, m.turn_idx, m.name, d.canonical
    FROM ments m JOIN dict d ON d.alias_name = m.name
)
, cvn AS MATERIALIZED (SELECT DISTINCT canonical AS name FROM rents)
, csh AS MATERIALIZED (
    SELECT DISTINCT name,
      unnest(list_transform(range(1, greatest(length(lower(name))-2, 0)+1),
             i -> substr(lower(name), i, 3))) AS shingle
    FROM cvn WHERE length(name) >= 3
)
${Lsh.pairsCtes("c", "csh", Canon.Names, 0.3)}
, cbi AS MATERIALIZED (
    SELECT name_a AS src, name_b AS dst FROM cpairs
    UNION ALL
    SELECT name_b AS src, name_a AS dst FROM cpairs
)
, cclosure(a, b) AS (
    SELECT name, name FROM cvn
    UNION
    SELECT c.a, e.dst FROM cclosure c JOIN cbi e ON e.src = c.b
)
, cclust AS MATERIALIZED (SELECT a AS canonical, min(b) AS cluster FROM cclosure GROUP BY a)
, crents AS MATERIALIZED (
    SELECT r.conv_id, r.turn_idx, r.name, cc.cluster AS canonical
    FROM rents r JOIN cclust cc ON cc.canonical = r.canonical
)
, calls AS MATERIALIZED (
    SELECT conv_id, turn_idx, alias2 || '_handler' AS name
    FROM enriched WHERE role = 'user' AND (event_id % 7) = 3
)
, defs AS MATERIALIZED (
    SELECT DISTINCT alias || '_handler' AS name, conv_id AS def_conv
    FROM enriched WHERE role = 'tool'
)
, gu AS (
    SELECT name, min(def_conv) AS resolved_conv
    FROM defs GROUP BY name HAVING count(DISTINCT def_conv) = 1
)
, conv_tools AS (SELECT DISTINCT conv_id, tool FROM transcripts WHERE tool IS NOT NULL)
, def_tools AS (
    SELECT DISTINCT alias || '_handler' AS name, tool, conv_id AS def_conv
    FROM enriched WHERE role = 'tool'
)
, imp AS (
    SELECT c.conv_id, d.name, min(d.def_conv) AS resolved_conv
    FROM conv_tools c JOIN def_tools d ON d.tool = c.tool
    GROUP BY 1, 2
)
, defcanon AS (
    SELECT canonical, resolved_conv, min(name) AS resolved_name FROM (
      SELECT dc.canonical, d.name, d.def_conv,
             min(d.def_conv) OVER (PARTITION BY dc.canonical) AS resolved_conv
      FROM defs d
      JOIN dict dc ON dc.alias_name = regexp_replace(d.name, '_handler$$', '')
    ) WHERE def_conv = resolved_conv
    GROUP BY 1, 2
)
, bydate AS (
    SELECT name, substr(def_conv, 13, 8) AS date_part, min(def_conv) AS resolved_conv
    FROM defs GROUP BY 1, 2
)
, byuser AS (
    SELECT name, substr(def_conv, 1, 11) AS user_prefix, min(def_conv) AS resolved_conv
    FROM defs GROUP BY 1, 2
)
, rcalls AS MATERIALIZED (
    SELECT c.conv_id, c.turn_idx, c.name,
      CASE WHEN gu.name IS NOT NULL THEN gu.resolved_conv
           WHEN sc.name IS NOT NULL THEN c.conv_id
           WHEN im.name IS NOT NULL THEN im.resolved_conv
           WHEN oc.canonical IS NOT NULL THEN oc.resolved_conv
           WHEN nv.name IS NOT NULL THEN nv.resolved_conv
           WHEN bu.name IS NOT NULL THEN bu.resolved_conv
           ELSE 'unverified' END AS resolved_conv,
      CASE WHEN gu.name IS NULL AND sc.name IS NULL AND im.name IS NULL
                AND oc.canonical IS NOT NULL THEN oc.resolved_name
           ELSE c.name END AS resolved_name,
      CAST(CASE WHEN gu.name IS NOT NULL THEN 0.90
           WHEN sc.name IS NOT NULL THEN 0.85
           WHEN im.name IS NOT NULL THEN 0.80
           WHEN oc.canonical IS NOT NULL THEN 0.70
           WHEN nv.name IS NOT NULL THEN 0.60
           WHEN bu.name IS NOT NULL THEN 0.45
           ELSE 0.35 END AS DOUBLE) AS confidence,
      CASE WHEN gu.name IS NOT NULL THEN 'global_unique'
           WHEN sc.name IS NOT NULL THEN 'same_conv'
           WHEN im.name IS NOT NULL THEN 'import'
           WHEN oc.canonical IS NOT NULL THEN 'operand'
           WHEN nv.name IS NOT NULL THEN 'nested_var'
           WHEN bu.name IS NOT NULL THEN 'same_dir'
           ELSE 'unverified' END AS strategy
    FROM calls c
    LEFT JOIN gu ON gu.name = c.name
    LEFT JOIN (SELECT DISTINCT name, def_conv FROM defs) sc
      ON sc.name = c.name AND sc.def_conv = c.conv_id
    LEFT JOIN imp im ON im.conv_id = c.conv_id AND im.name = c.name
    LEFT JOIN dict cd ON cd.alias_name = regexp_replace(c.name, '_handler$$', '')
    LEFT JOIN defcanon oc ON oc.canonical = cd.canonical
    LEFT JOIN bydate nv ON nv.name = c.name AND nv.date_part = substr(c.conv_id, 13, 8)
    LEFT JOIN byuser bu
      ON bu.name = c.name AND bu.user_prefix = substr(c.conv_id, 1, 11)
)
, fn_nodes AS MATERIALIZED (
    SELECT alias || '_handler' AS name, conv_id, min(turn_idx) AS turn_idx
    FROM enriched WHERE role = 'tool' GROUP BY 1, 2
)
, ep_ids AS MATERIALIZED (
    SELECT DISTINCT $normPath AS name, verb FROM enriched WHERE role = 'tool'
)
, imports AS MATERIALIZED (
    SELECT conv_id, min(turn_idx) AS turn_idx,
           string_agg(tool, chr(10) ORDER BY turn_idx) AS body
    FROM transcripts WHERE tool IS NOT NULL GROUP BY conv_id
)
, page_ids AS MATERIALIZED (
    SELECT DISTINCT resource AS name FROM enriched WHERE role = 'assistant'
)
, group_ids AS (
    SELECT DISTINCT regexp_extract(name, '^(/[^/]+/[^/]+)', 1) AS name FROM ep_ids
    WHERE length(regexp_extract(name, '^(/[^/]+/[^/]+)', 1)) > 0
)
, nested0 AS (
    SELECT r.conv_id, r.turn_idx, r.req_path, d.fn_name, d.def_idx,
           row_number() OVER (PARTITION BY r.conv_id, r.turn_idx
                              ORDER BY d.def_idx DESC, d.fn_name DESC) AS rn
    FROM (SELECT conv_id, turn_idx, replace(path, '{id}', '$$' || '{id}') AS req_path
          FROM enriched WHERE role = 'assistant') r
    JOIN (SELECT conv_id, turn_idx AS def_idx, alias || '_handler' AS fn_name
          FROM enriched WHERE role = 'tool') d
      ON d.conv_id = r.conv_id AND d.def_idx < r.turn_idx AND r.turn_idx <= d.def_idx + 5
)
, nested AS MATERIALIZED (SELECT conv_id, turn_idx, req_path, fn_name FROM nested0 WHERE rn = 1)
, docs_cte AS (
    SELECT conv_id, turn_idx, name, docs FROM (
      SELECT conv_id, turn_idx, role, alias || '_handler' AS name,
        CASE WHEN lag(role, 1) OVER w = 'user' THEN lag(text, 1) OVER w
             WHEN lag(role, 2) OVER w = 'user' THEN lag(text, 2) OVER w END AS docs
      FROM enriched
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    ) WHERE role = 'tool'
)
, inst_ids AS MATERIALIZED (SELECT DISTINCT name, canonical FROM crents)
, dm_within AS MATERIALIZED (
    SELECT DISTINCT e.alias || '_handler' AS fn_name, e.conv_id, cc.cluster
    FROM enriched e
    JOIN dict d ON instr(e.text, d.alias_name) > 0
    JOIN cclust cc ON cc.canonical = d.canonical
    WHERE e.role = 'tool'
)
, var_rows AS MATERIALIZED (
    SELECT conv_id, turn_idx, CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS name
    FROM enriched WHERE role = 'tool'
)
, etests AS MATERIALIZED (
    SELECT conv_id, turn_idx, replace(path, '{id}', '$$' || '{id}') AS name, resource
    FROM enriched WHERE role = 'assistant' AND (event_id % 5) = 0
)
, topic_dim(topic, canonical) AS MATERIALIZED (VALUES $topicValues)
, pkg_pairs AS MATERIALIZED (
    SELECT DISTINCT string_split(tool, '_')[1] AS pkg, tool
    FROM transcripts WHERE tool IS NOT NULL
)
, concept_members AS MATERIALIZED (
    SELECT DISTINCT t.topic, cc.cluster
    FROM topic_dim t JOIN cclust cc ON cc.canonical = t.canonical
)
, nodes0 AS (
    SELECT 'Corpus' AS node_type, 'corpus' AS name, '' AS conv_id, -1 AS turn_idx, '' AS body,
           ${key4("'Corpus'", "'corpus'", "''", "-1")} AS node_key,
           CAST(NULL AS VARCHAR) AS docs, '' AS meta_kv
    UNION ALL
    SELECT 'Conversation', conv_id, conv_id, -1, '',
           ${key4("'Conversation'", "conv_id", "conv_id", "-1")}, NULL, ''
    FROM (SELECT DISTINCT conv_id FROM transcripts)
    UNION ALL
    SELECT 'Turn', 'turn-' || CAST(turn_idx AS VARCHAR), conv_id, turn_idx, text,
           ${key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")},
           NULL, 'role=' || role
    FROM transcripts
    UNION ALL
    SELECT 'Role', role, '', -1, '', ${key4("'Role'", "role", "''", "-1")}, NULL, ''
    FROM (SELECT DISTINCT role FROM transcripts)
    UNION ALL
    SELECT 'Tool', tool, '', -1, '', ${key4("'Tool'", "tool", "''", "-1")}, NULL, ''
    FROM (SELECT DISTINCT tool FROM transcripts WHERE tool IS NOT NULL)
    UNION ALL
    SELECT 'Entity', canonical, '', -1, '', ${key4("'Entity'", "canonical", "''", "-1")},
           NULL, ''
    FROM (SELECT DISTINCT canonical FROM crents)
    UNION ALL
    SELECT 'Function', f.name, f.conv_id, f.turn_idx, '',
           ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")},
           d.docs, 'date=' || substr(f.conv_id, 13, 8)
    FROM fn_nodes f
    LEFT JOIN docs_cte d
      ON d.conv_id = f.conv_id AND d.turn_idx = f.turn_idx AND d.name = f.name
    UNION ALL
    SELECT 'Function', name, 'unverified', -1, '',
           ${key4("'Function'", "name", "'unverified'", "-1")},
           NULL, 'date=' || substr('unverified', 13, 8)
    FROM (SELECT DISTINCT name FROM rcalls WHERE strategy = 'unverified')
    UNION ALL
    SELECT 'Endpoint', name, '', -1, '', ${key5("'Endpoint'", "name", "''", "-1", "verb")},
           NULL, 'group=' || regexp_extract(name, '^(/[^/]+/[^/]+)', 1) || ';verb=' || verb
    FROM ep_ids
    UNION ALL
    SELECT 'Request', r.req_path, r.conv_id, r.turn_idx, '',
           ${key4("'Request'", "r.req_path", "r.conv_id", "r.turn_idx")},
           NULL,
           CASE WHEN n.fn_name IS NOT NULL
                THEN 'nested_in=' || n.fn_name || ';verb=' || r.verb
                ELSE 'verb=' || r.verb END
    FROM (SELECT conv_id, turn_idx, verb, replace(path, '{id}', '$$' || '{id}') AS req_path
          FROM enriched WHERE role = 'assistant') r
    LEFT JOIN nested n
      ON n.conv_id = r.conv_id AND n.turn_idx = r.turn_idx AND n.req_path = r.req_path
    UNION ALL
    SELECT 'Import', 'imports', conv_id, turn_idx, body,
           ${key4("'Import'", "'imports'", "conv_id", "turn_idx")}, NULL, ''
    FROM imports
    UNION ALL
    SELECT 'Page', name, '', -1, '', ${key4("'Page'", "name", "''", "-1")}, NULL, ''
    FROM page_ids
    UNION ALL
    SELECT 'EndpointGroup', name, '', -1, '', ${key4("'EndpointGroup'", "name", "''", "-1")},
           NULL, ''
    FROM group_ids
    UNION ALL
    SELECT 'Instance', name, '', -1, '', ${key4("'Instance'", "name", "''", "-1")}, NULL, ''
    FROM (SELECT DISTINCT name FROM inst_ids)
    UNION ALL
    SELECT 'DataModel', cluster, '', -1, '', ${key4("'DataModel'", "cluster", "''", "-1")},
           NULL, ''
    FROM (SELECT DISTINCT cluster FROM dm_within)
    UNION ALL
    SELECT 'Var', name, conv_id, turn_idx, '',
           ${key4("'Var'", "name", "conv_id", "turn_idx")}, NULL, ''
    FROM var_rows
    UNION ALL
    SELECT 'IntegrationTest', name, conv_id, turn_idx, '',
           ${key4("'IntegrationTest'", "name", "conv_id", "turn_idx")},
           NULL, 'kind=integration'
    FROM calls
    UNION ALL
    SELECT 'E2etest', name, conv_id, turn_idx, '',
           ${key4("'E2etest'", "name", "conv_id", "turn_idx")}, NULL, 'kind=e2e'
    FROM etests
    UNION ALL
    SELECT 'Class', cluster, '', -1, '', ${key4("'Class'", "cluster", "''", "-1")},
           NULL, 'kind=class'
    FROM (SELECT DISTINCT cluster FROM cclust)
    UNION ALL
    SELECT 'Trait', canonical, '', -1, '', ${key4("'Trait'", "canonical", "''", "-1")},
           NULL, 'kind=trait'
    FROM (SELECT DISTINCT canonical FROM cclust)
    UNION ALL
    SELECT 'UnitTest', name, conv_id, turn_idx, '',
           ${key4("'UnitTest'", "name", "conv_id", "turn_idx")}, NULL, 'kind=unit'
    FROM rcalls WHERE strategy = 'same_conv'
    UNION ALL
    SELECT 'Mock', name, '', -1, '', ${key4("'Mock'", "name", "''", "-1")}, NULL, 'kind=mock'
    FROM (SELECT DISTINCT name FROM rcalls WHERE strategy = 'unverified')
    UNION ALL
    SELECT 'Package', pkg, '', -1, '', ${key4("'Package'", "pkg", "''", "-1")},
           NULL, 'kind=package'
    FROM (SELECT DISTINCT pkg FROM pkg_pairs)
    UNION ALL
    SELECT 'Concept', topic, '', -1, '', ${key4("'Concept'", "topic", "''", "-1")},
           NULL, 'kind=concept'
    FROM (SELECT DISTINCT topic FROM concept_members)
)
, nodes AS MATERIALIZED (
    SELECT *, sha256(node_key) AS ref_id, sha256(body) AS hash,
           length(body) > 500000 AS skipped
    FROM nodes0
)
, edges0 AS (
    SELECT 'CONTAINS' AS edge_type,
           ${key4("'Corpus'", "'corpus'", "''", "-1")} AS src_key,
           ${key4("'Conversation'", "conv_id", "conv_id", "-1")} AS dst_key,
           CAST(1.0 AS DOUBLE) AS confidence, 'spine' AS strategy
    FROM (SELECT DISTINCT conv_id FROM transcripts)
    UNION ALL
    SELECT 'CONTAINS', ${key4("'Conversation'", "conv_id", "conv_id", "-1")},
           ${key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")},
           CAST(1.0 AS DOUBLE), 'spine'
    FROM transcripts
    UNION ALL
    SELECT 'OF', ${key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")},
           ${key4("'Role'", "role", "''", "-1")}, CAST(1.0 AS DOUBLE), 'spine'
    FROM transcripts
    UNION ALL
    SELECT 'USES', ${key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")},
           ${key4("'Tool'", "tool", "''", "-1")}, CAST(1.0 AS DOUBLE), 'tool_column'
    FROM transcripts WHERE tool IS NOT NULL
    UNION ALL
    SELECT 'MENTIONS', ${key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")},
           ${key4("'Entity'", "canonical", "''", "-1")}, CAST(1.0 AS DOUBLE), 'alias_dict'
    FROM crents
    UNION ALL
    SELECT CASE WHEN r.strategy = 'unverified' THEN 'USES' ELSE 'CALLS' END,
           ${key4("'Turn'", "'turn-' || CAST(r.turn_idx AS VARCHAR)", "r.conv_id", "r.turn_idx")},
           CASE WHEN f.name IS NULL
                THEN ${key4("'Function'", "r.name", "'unverified'", "-1")}
                ELSE ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")} END,
           r.confidence, r.strategy
    FROM rcalls r LEFT JOIN fn_nodes f
      ON f.name = r.resolved_name AND f.conv_id = r.resolved_conv
    UNION ALL
    SELECT CASE WHEN r.strategy = 'unverified' THEN 'USES' ELSE 'CALLS' END,
           ${key4("'IntegrationTest'", "r.name", "r.conv_id", "r.turn_idx")},
           CASE WHEN f.name IS NULL
                THEN ${key4("'Function'", "r.name", "'unverified'", "-1")}
                ELSE ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")} END,
           r.confidence, r.strategy
    FROM rcalls r LEFT JOIN fn_nodes f
      ON f.name = r.resolved_name AND f.conv_id = r.resolved_conv
    UNION ALL
    SELECT 'CALLS', ${key4("'E2etest'", "name", "conv_id", "turn_idx")},
           ${key4("'Page'", "resource", "''", "-1")}, CAST(1.0 AS DOUBLE), 'e2e_page'
    FROM etests
    UNION ALL
    SELECT 'OF', ${key4("'Instance'", "name", "''", "-1")},
           ${key4("'Entity'", "canonical", "''", "-1")}, CAST(1.0 AS DOUBLE), 'instance_of'
    FROM inst_ids
    UNION ALL
    SELECT 'CONTAINS', ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")},
           ${key4("'DataModel'", "w.cluster", "''", "-1")}, CAST(1.0 AS DOUBLE), 'data_model'
    FROM dm_within w JOIN fn_nodes f ON f.name = w.fn_name AND f.conv_id = w.conv_id
    UNION ALL
    SELECT 'CONTAINS', ${key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")},
           ${key4("'Var'", "name", "conv_id", "turn_idx")}, CAST(1.0 AS DOUBLE), 'var_decl'
    FROM var_rows
    UNION ALL
    SELECT DISTINCT 'HANDLER', ${key5("'Endpoint'", normPath, "''", "-1", "verb")},
           ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")},
           CAST(1.0 AS DOUBLE), 'handler'
    FROM enriched e JOIN fn_nodes f
      ON f.name = e.alias || '_handler' AND f.conv_id = e.conv_id
    WHERE e.role = 'tool'
    UNION ALL
    SELECT 'CALLS', ${key4("'Turn'", "'turn-' || CAST(turn_idx AS VARCHAR)", "conv_id", "turn_idx")},
           ${key4("'Request'", "replace(path, '{id}', '$$' || '{id}')", "conv_id", "turn_idx")},
           CAST(1.0 AS DOUBLE), 'request_in_turn'
    FROM enriched WHERE role = 'assistant'
    UNION ALL
    SELECT 'CALLS',
           ${key4("'Request'", "r.req_path", "r.conv_id", "r.turn_idx")},
           ${key5("'Endpoint'", "r.norm_path", "''", "-1", "r.verb")},
           CAST(1.0 AS DOUBLE), 'api_link'
    FROM (SELECT conv_id, turn_idx, verb, $normPath AS norm_path,
                 replace(path, '{id}', '$$' || '{id}') AS req_path
          FROM enriched WHERE role = 'assistant') r
    JOIN ep_ids e ON e.name = r.norm_path AND e.verb = r.verb
    UNION ALL
    SELECT DISTINCT 'IMPORTS',
           ${key4("'Import'", "'imports'", "t.conv_id", "i.turn_idx")},
           ${key4("'Tool'", "t.tool", "''", "-1")},
           CAST(1.0 AS DOUBLE), 'import_section'
    FROM transcripts t JOIN imports i ON i.conv_id = t.conv_id
    WHERE t.tool IS NOT NULL
    UNION ALL
    SELECT DISTINCT 'OPERAND',
           ${key4("'Tool'", "e.tool", "''", "-1")},
           ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")},
           CAST(1.0 AS DOUBLE), 'tool_owner'
    FROM enriched e JOIN fn_nodes f
      ON f.name = e.alias || '_handler' AND f.conv_id = e.conv_id
    WHERE e.role = 'tool'
    UNION ALL
    SELECT 'PARENT_OF', ${key4("'EndpointGroup'", "grp", "''", "-1")},
           ${key5("'Endpoint'", "name", "''", "-1", "verb")}, CAST(1.0 AS DOUBLE), 'endpoint_group'
    FROM (SELECT name, verb, regexp_extract(name, '^(/[^/]+/[^/]+)', 1) AS grp FROM ep_ids)
    WHERE length(grp) > 0
    UNION ALL
    SELECT 'RENDERS', ${key4("'Page'", "res", "''", "-1")},
           ${key5("'Endpoint'", "e.name", "''", "-1", "e.verb")}, CAST(1.0 AS DOUBLE), 'renders'
    FROM (SELECT name, verb, regexp_extract(name, '^/api/([a-z]+)', 1) AS res FROM ep_ids) e
    JOIN page_ids p ON p.name = e.res
    UNION ALL
    SELECT 'IMPLEMENTS', ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")},
           ${key4("'Entity'", "cc.cluster", "''", "-1")}, CAST(1.0 AS DOUBLE), 'implements'
    FROM fn_nodes f
    JOIN dict d ON d.alias_name = regexp_replace(f.name, '_handler$$', '')
    JOIN cclust cc ON cc.canonical = d.canonical
    UNION ALL
    SELECT 'NESTED_IN', ${key4("'Request'", "n.req_path", "n.conv_id", "n.turn_idx")},
           ${key4("'Function'", "n.fn_name", "n.conv_id", "f.turn_idx")},
           CAST(1.0 AS DOUBLE), 'nested_scope'
    FROM nested n JOIN fn_nodes f ON f.name = n.fn_name AND f.conv_id = n.conv_id
    UNION ALL
    SELECT 'OPERAND', ${key4("'Class'", "cc.cluster", "''", "-1")},
           ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")},
           CAST(1.0 AS DOUBLE), 'class_method'
    FROM fn_nodes f
    JOIN dict d ON d.alias_name = regexp_replace(f.name, '_handler$$', '')
    JOIN cclust cc ON cc.canonical = d.canonical
    UNION ALL
    SELECT 'IMPLEMENTS', ${key4("'Class'", "cluster", "''", "-1")},
           ${key4("'Trait'", "canonical", "''", "-1")}, CAST(1.0 AS DOUBLE), 'class_includes'
    FROM cclust
    UNION ALL
    SELECT 'CALLS', ${key4("'UnitTest'", "r.name", "r.conv_id", "r.turn_idx")},
           ${key4("'Function'", "f.name", "f.conv_id", "f.turn_idx")},
           r.confidence, r.strategy
    FROM rcalls r JOIN fn_nodes f
      ON f.name = r.resolved_name AND f.conv_id = r.resolved_conv
    WHERE r.strategy = 'same_conv'
    UNION ALL
    SELECT 'OF', ${key4("'Mock'", "name", "''", "-1")},
           ${key4("'Function'", "name", "'unverified'", "-1")}, CAST(1.0 AS DOUBLE), 'mock_of'
    FROM (SELECT DISTINCT name FROM rcalls WHERE strategy = 'unverified')
    UNION ALL
    SELECT 'CONTAINS', ${key4("'Corpus'", "'corpus'", "''", "-1")},
           ${key4("'Package'", "pkg", "''", "-1")}, CAST(1.0 AS DOUBLE), 'corpus_package'
    FROM (SELECT DISTINCT pkg FROM pkg_pairs)
    UNION ALL
    SELECT 'CONTAINS', ${key4("'Package'", "pkg", "''", "-1")},
           ${key4("'Tool'", "tool", "''", "-1")}, CAST(1.0 AS DOUBLE), 'package_tool'
    FROM pkg_pairs
    UNION ALL
    SELECT 'INCLUDES', ${key4("'Concept'", "topic", "''", "-1")},
           ${key4("'Entity'", "cluster", "''", "-1")}, CAST(1.0 AS DOUBLE), 'concept_includes'
    FROM concept_members
)
, edges AS MATERIALIZED (
    -- duplicate (edge_type, src, dst) rows always carry identical payloads
    -- (see GraphBuild Scaladoc), so set-dedup matches dropDuplicates
    SELECT DISTINCT edge_type, src_key, dst_key, confidence, strategy FROM edges0
)"""

  /** Node-embedding CTE — the bit-exact DuckDB twin of
    * [[graft.datapipe.Ann.nodeEmbedding]]: float32 elements via double
    * division then FLOAT cast (Spark divides float operands in double, so
    * the oracle replicates that exact path).
    */
  def embSql(keyExpr: String, bodyExpr: String): String = s"""
      list_transform(range(0, ${graft.datapipe.Ann.NodeDim}), i ->
        CAST(CAST((ascii(substr(md5($keyExpr || '|' || $bodyExpr),
                                1 + ((CAST(i AS INTEGER) * 7 + 3) % 32), 1))
                   * (CAST(i AS INTEGER) + 1)) % 101 AS DOUBLE) / 101 AS FLOAT))"""

  val nodeEmbCte: String = s"""
, nemb AS MATERIALIZED (
    SELECT node_key,
      ${embSql("node_key", "body")}
        AS embedding
    FROM nodes
)"""

  /** Double cosine between two embedding list columns (sequential list_sum,
    * matching Spark's sequential aggregate fold).
    */
  def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"""

  /** DuckDB twin of [[graft.datapipe.Ann.embeddingHash]]. */
  def embHashSql(e: String): String =
    s"md5(array_to_string(list_transform($e, " +
      "x -> CAST(CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT) AS VARCHAR)), ','))"

  def withGraph(body: String): String =
    Transcripts.oracleCte + graphCte + "\n" + body

  /** [[withGraph]] over the corpus slice `keep` (see [[Transcripts.oracleCteWhere]]). */
  def withGraphWhere(keep: String, body: String): String =
    Transcripts.oracleCteWhere(keep) + graphCte + "\n" + body

  /** G9 oracle: BFS layers as chained MATERIALIZED CTEs with deterministic
    * min-parent tracking, then a backtrack join chain reconstructing the
    * path string — twin of [[graft.query.Query.shortestPath]].
    */
  def shortestPathSql(
      startKeyExpr: String,
      targetKeyExpr: String,
      maxDepth: Int = 4,
      edgesRel: String = "edges"
  ): String = {
    val layers = (1 to maxDepth).map { k =>
      val priors = (0 until k).map(i => s"SELECT node_key FROM sl$i").mkString(" UNION ALL ")
      s"""
, sl$k AS MATERIALIZED (
    SELECT u.b AS node_key, min(u.a) AS parent
    FROM spund u JOIN sl${k - 1} l ON l.node_key = u.a
    WHERE u.b NOT IN ($priors)
    GROUP BY u.b)"""
    }.mkString
    val lay = (0 to maxDepth)
      .map(k => s"SELECT node_key, parent, $k AS depth FROM sl$k")
      .mkString(" UNION ALL ")
    val backJoins = (1 to maxDepth)
      .map(i => s"LEFT JOIN slay p$i ON p$i.node_key = ${if (i == 1) "t" else s"p${i - 1}"}.parent")
      .mkString("\n")
    val pathCols = (maxDepth to 1 by -1).map(i => s"p$i.node_key").mkString(", ")
    s"""
, spund AS MATERIALIZED (
    SELECT src_key AS a, dst_key AS b FROM $edgesRel
    UNION
    SELECT dst_key AS a, src_key AS b FROM $edgesRel
)
, sl0 AS MATERIALIZED (SELECT $startKeyExpr AS node_key, CAST(NULL AS VARCHAR) AS parent)
$layers
, slay AS MATERIALIZED ($lay)
SELECT concat_ws('->', $pathCols, t.node_key) AS path, t.depth
FROM slay t
$backJoins
WHERE t.node_key = $targetKeyExpr"""
  }

  /** G10 pagerank oracle: the fixed 20-iteration loop unrolled into chained
    * (non-recursive) CTEs — same damping/dangling-mass formula as
    * [[graft.query.Query.pagerank]]. Double sums in different aggregation
    * orders drift ~1e-14 relative; both sides round to 6 decimals, so the
    * hash compares the identical decimal.
    */
  val pagerankCte: String = pagerankChain + "\nSELECT node_key, round(rank, 5) AS rank FROM pr20"

  /** The pagerank CTE chain WITHOUT the final SELECT — composable into
    * queries that join the converged `pr20` table (e.g. pagerank-sorted
    * search). Same chain [[pagerankCte]] selects from.
    */
  lazy val pagerankChain: String = pagerankChainOver(
    "p",
    "node_type IN ('Request','Endpoint','Function')",
    "e.edge_type IN ('CALLS','HANDLER')"
  )

  /** [[pagerankChain]] over an arbitrary node/edge projection; CTE names are
    * `${p}n`, `${p}e`, `${p}links`, …, `${p}r0..${p}r20`. `distinctEdges`
    * collapses parallel edges of different types between the same pair to
    * one link (the importance projection merges CALLS|HANDLER|RENDERS).
    */
  def pagerankChainOver(
      p: String,
      nodeFilter: String,
      edgeFilter: String,
      distinctEdges: Boolean = false
  ): String = {
    val dist = if (distinctEdges) "DISTINCT " else ""
    val iters = (1 to 20).map { k =>
      s"""
, ${p}r$k AS MATERIALIZED (
  SELECT q.node_key,
    0.15 + 0.85 * (coalesce(c.c, CAST(0.0 AS DOUBLE)) + dm.dmass / pc.n) AS rank
  FROM ${p}n q
  CROSS JOIN ${p}count pc
  CROSS JOIN (SELECT coalesce(sum(r.rank), CAST(0.0 AS DOUBLE)) AS dmass
              FROM ${p}r${k - 1} r JOIN ${p}dangle d ON d.node_key = r.node_key) dm
  LEFT JOIN (SELECT l.dst_key AS node_key, sum(r.rank / l.out_deg) AS c
             FROM ${p}r${k - 1} r JOIN ${p}links l ON l.src_key = r.node_key GROUP BY 1) c
    ON c.node_key = q.node_key
)"""
    }.mkString
    s"""
, ${p}n AS MATERIALIZED (SELECT node_key FROM nodes WHERE $nodeFilter)
, ${p}e AS MATERIALIZED (
    SELECT ${dist}e.src_key, e.dst_key FROM edges e
    JOIN ${p}n s ON s.node_key = e.src_key
    JOIN ${p}n d ON d.node_key = e.dst_key
    WHERE $edgeFilter
)
, ${p}deg AS (SELECT src_key, CAST(count(*) AS DOUBLE) AS out_deg FROM ${p}e GROUP BY 1)
, ${p}links AS MATERIALIZED (SELECT e.src_key, e.dst_key, d.out_deg FROM ${p}e e JOIN ${p}deg d ON d.src_key = e.src_key)
, ${p}dangle AS MATERIALIZED (SELECT node_key FROM ${p}n WHERE node_key NOT IN (SELECT src_key FROM ${p}e))
, ${p}count AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM ${p}n)
, ${p}r0 AS MATERIALIZED (SELECT node_key, CAST(1.0 AS DOUBLE) AS rank FROM ${p}n)
$iters"""
  }

  /** Importance scoring oracle (mcp/src/importance/detector.ts:12-166):
    * pagerank + DISTINCT-caller/callee degrees over the
    * Function|Class|Trait|Endpoint|DataModel|Request|Page projection with
    * CALLS|HANDLER|RENDERS edges (queries.ts:1065-1101), derived scores
    * entry = out/(in+1), utility = in/(out+1), hub = in*out, floor-index
    * percentile thresholds over non-structural nodes (detector.ts:12-16:
    * sorted[min(floor(p*n), n-1)]), and the assignTag cascade
    * (detector.ts:18-52). Exposes `itagged`.
    */
  lazy val importanceCte: String = {
    val projTypes =
      "('Function','Class','Trait','Endpoint','DataModel','Request','Page')"
    // floor-index percentile over a sub-population of ins as a scalar subquery
    def pct(valueExpr: String, where: String, p: String) =
      s"""coalesce((
        SELECT v FROM (SELECT $valueExpr AS v, row_number() OVER (ORDER BY $valueExpr) - 1 AS rn FROM ins $where) q
        CROSS JOIN (SELECT count(*) AS n FROM ins $where) c
        WHERE rn = least(CAST(floor($p * n) AS BIGINT), n - 1)), 0.0)"""
    pagerankChainOver(
      "imp",
      s"node_type IN $projTypes",
      "e.edge_type IN ('CALLS','HANDLER','RENDERS')",
      distinctEdges = true
    ) +
      s"""
, inodes AS MATERIALIZED (SELECT node_key, node_type FROM nodes WHERE node_type IN $projTypes)
, iscored AS MATERIALIZED (
    SELECT node_key, node_type, in_degree, out_degree,
           CAST(out_degree AS DOUBLE) / (in_degree + 1) AS entry_score,
           CAST(in_degree AS DOUBLE) / (out_degree + 1) AS utility_score,
           CAST(in_degree * out_degree AS DOUBLE) AS hub_score
    FROM (
      SELECT n.node_key, n.node_type,
             CAST(coalesce(i.c, 0) AS BIGINT) AS in_degree,
             CAST(coalesce(o.c, 0) AS BIGINT) AS out_degree
      FROM inodes n
      LEFT JOIN (SELECT dst_key, count(*) AS c FROM impe GROUP BY 1) i ON i.dst_key = n.node_key
      LEFT JOIN (SELECT src_key, count(*) AS c FROM impe GROUP BY 1) o ON o.src_key = n.node_key))
, ins AS MATERIALIZED (
    SELECT * FROM iscored
    WHERE node_type NOT IN ('Request','Page')
      AND NOT (node_type = 'Endpoint' AND in_degree = 0))
, ith AS (SELECT
    ${pct("entry_score", "", "0.9")} AS entry_p90,
    ${pct("utility_score", "", "0.75")} AS utility_p75,
    ${pct("hub_score", "WHERE hub_score > 0", "0.9")} AS hub_p90)
, itagged AS (
    SELECT s.node_key, s.node_type, s.in_degree, s.out_degree,
           s.entry_score, s.utility_score, s.hub_score,
           CASE
             WHEN s.node_type IN ('Request','Page')
               OR (s.node_type = 'Endpoint' AND s.in_degree = 0) THEN 'EntryPoint'
             WHEN s.hub_score > 0 AND s.hub_score >= t.hub_p90 THEN 'Hub'
             WHEN s.entry_score >= t.entry_p90 AND s.out_degree >= 3 THEN 'EntryPoint'
             WHEN s.utility_score >= t.utility_p75 AND s.in_degree > 0 THEN 'Utility'
             ELSE 'Connector'
           END AS importance_tag,
           round(coalesce(r.rank, 0.0), 5) AS pagerank
    FROM iscored s CROSS JOIN ith t
    LEFT JOIN impr20 r ON r.node_key = s.node_key)"""
  }
}
