package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.extract.Dictionary

/** The Iceberg-shaped transcript corpus — the engine's only input table
  * (BASELINE.json input_hint): (conv_id string, turn_idx int, role string,
  * text string, tool string, ts timestamp).
  *
  * For the driver's DuckDB correctness gate the corpus is derived
  * DETERMINISTICALLY from the driver-provided `events` parquet (seeded,
  * read-only) by pure SQL-expressible transforms. [[oracleCte]] is the exact
  * DuckDB re-derivation, kept in this file so Spark and oracle can't drift:
  * every oracle query runs against `WITH enriched AS (...), transcripts AS
  * (...)`. The `enriched` CTE carries the generator fields (alias/verb/path)
  * so oracles can compute ground truth in closed form while the Spark engine
  * consumes ONLY the six public transcript columns — extraction is real,
  * the oracle is analytic truth.
  *
  * At 100 TB the corpus would be an Iceberg table partitioned by
  * (bucket(conv_id), days(ts)); here it is a parquet derivation, and all
  * downstream stages key their shuffles by conv_id so per-conversation work
  * never shuffles globally (SURVEY.md §7.5 item 7).
  */
object Transcripts {

  private def aliasCase(col: Column) = {
    val slot = pmod(col, lit(12))
    Dictionary.aliasTable.foldLeft(lit(null).cast("string")) { case (acc, (i, a, _)) =>
      when(slot === i, lit(a)).otherwise(acc)
    }
  }

  /** Digits of the zero-padded user id in a conv_id. */
  private val UserDigits = 6

  /** A conversation is one user's day: `conv-<user_id padded to 6>-<yyyyMMdd>`.
    * The engine cuts it apart only through [[convUser]] and [[convDay]]; the
    * DuckDB oracle's own `substr` cuts stay separate, so they check these.
    */
  private def convId(userId: Column, ts: Column): Column =
    concat(lit("conv-"), lpad(userId.cast("string"), UserDigits, "0"), lit("-"),
      date_format(ts, "yyyyMMdd"))

  /** The user part of a conv_id, `conv-<user>`: one per user (same_dir scope). */
  def convUser(convId: Column): Column = substring(convId, 1, 5 + UserDigits)

  /** The day part of a conv_id, `yyyyMMdd` (the nested_var date partition). */
  def convDay(convId: Column): Column = substring(convId, 7 + UserDigits, 8)

  /** Internal: events + derived generator fields. Used only by oracle parity
    * and tests — the engine consumes [[fromEvents]]' six columns.
    */
  def enrichedFromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val base = ev
      .withColumn(
        "role",
        when(col("event_type").isin("click", "view"), "user")
          .when(col("event_type").isin("signup", "purchase"), "assistant")
          .otherwise("tool")
      )
      .withColumn("alias", aliasCase(col("event_id")))
      .withColumn(
        "verb",
        when(pmod(col("event_id"), lit(4)) === 0, "GET")
          .when(pmod(col("event_id"), lit(4)) === 1, "POST")
          .when(pmod(col("event_id"), lit(4)) === 2, "PUT")
          .otherwise("DELETE")
      )
      .withColumn(
        "resource",
        when(pmod(col("event_id"), lit(3)) === 0, "orders")
          .when(pmod(col("event_id"), lit(3)) === 1, "users")
          .otherwise("items")
      )
      .withColumn(
        "path",
        when(
          pmod(col("event_id"), lit(5)) === 0,
          concat(lit("/api/"), col("resource"), lit("/{id}"))
        ).otherwise(
          concat(
            lit("/api/"),
            col("resource"),
            lit("/"),
            pmod(col("event_id"), lit(10)).cast("string")
          )
        )
      )
      .withColumn(
        "hot",
        when(pmod(col("event_id"), lit(3)) === 0, lit(" via " + Dictionary.hotAlias))
          .otherwise(lit(""))
      )
      .withColumn("conv_id", convId(col("user_id"), col("ts")))

    val w = Window
      .partitionBy(col("user_id"), to_date(col("ts")))
      .orderBy(col("ts"), col("event_id"))

    base
      .withColumn("alias2", aliasCase(col("event_id") + 5))
      .withColumn(
        "callee",
        when(
          pmod(col("event_id"), lit(7)) === 3,
          concat(lit(" and rerun "), col("alias2"), lit("_handler"))
        ).otherwise(lit(""))
      )
      .withColumn("turn_idx", (row_number().over(w) - 1).cast("int"))
      .withColumn(
        "text",
        when(
          col("role") === "user",
          concat(lit("please check "), col("alias"), col("hot"), col("callee"))
        )
          .when(
            col("role") === "assistant",
            concat(
              lit("calling "),
              col("verb"),
              lit(" "),
              // requests carry frontend template form ${id} (linker.rs:398).
              // NB: expr("... '${id}' ...") is unusable here — Spark's SQL
              // variable substitution rewrites ${id} to empty.
              regexp_replace(col("path"), "\\{id\\}", "\\${id}"),
              lit(" for "),
              col("alias"),
              col("hot")
            )
          )
          .otherwise(
            concat(
              lit("endpoint "),
              col("verb"),
              lit(" "),
              col("path"),
              lit(" handled by "),
              col("alias"),
              lit("_handler returned "),
              floor(col("value")).cast("long").cast("string"),
              col("hot")
            )
          )
      )
      .withColumn("tool", when(col("role") === "tool", concat(lit("svc_"), col("resource"))))
  }

  /** The public six-column transcript table (the engine's only input). */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame =
    enrichedFromEvents(spark, sfDir)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")

  private val aliasCaseSql: String =
    Dictionary.aliasTable
      .map { case (i, a, _) => s"WHEN $i THEN '$a'" }
      .mkString("CASE (event_id % 12) ", " ", " END")

  private val transcriptsCte: String = """, transcripts AS MATERIALIZED (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM enriched
)"""

  /** DuckDB CTE prefix re-deriving `enriched` + `transcripts` from the same
    * events parquet. Prepended to every oracle SQL by [[oracle]].
    */
  val oracleCte: String = enrichedCte("enriched") + transcriptsCte

  /** [[oracleCte]] over a slice of the corpus: the `enriched` rows that
    * satisfy the SQL predicate `keep`, applied after `turn_idx` is assigned
    * (as a Spark-side `where` over [[fromEvents]] is).
    */
  def oracleCteWhere(keep: String): String =
    enrichedCte("enriched_all") +
      s", enriched AS MATERIALIZED (SELECT * FROM enriched_all WHERE $keep)" + transcriptsCte

  private def enrichedCte(name: String): String =
    s"""WITH RECURSIVE $name AS MATERIALIZED (
  SELECT *,
    CAST(row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
    CASE
      WHEN role = 'user' THEN 'please check ' || alias || hot || callee
      WHEN role = 'assistant' THEN 'calling ' || verb || ' ' || replace(path, '{id}', '$$' || '{id}') || ' for ' || alias || hot
      ELSE 'endpoint ' || verb || ' ' || path || ' handled by ' || alias || '_handler returned ' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) || hot
    END AS text,
    CASE WHEN role = 'tool' THEN 'svc_' || resource END AS tool
  FROM (
    SELECT *,
      CASE WHEN event_type IN ('click','view') THEN 'user'
           WHEN event_type IN ('signup','purchase') THEN 'assistant'
           ELSE 'tool' END AS role,
      $aliasCaseSql AS alias,
      ${aliasCaseSql.replace("(event_id % 12)", "((event_id + 5) % 12)")} AS alias2,
      CASE WHEN (event_id % 7) = 3
           THEN ' and rerun ' || (${aliasCaseSql.replace("(event_id % 12)", "((event_id + 5) % 12)")}) || '_handler'
           ELSE '' END AS callee,
      CASE (event_id % 4) WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS verb,
      CASE (event_id % 3) WHEN 0 THEN 'orders' WHEN 1 THEN 'users' ELSE 'items' END AS resource,
      CASE WHEN (event_id % 5) = 0
           THEN '/api/' || (CASE (event_id % 3) WHEN 0 THEN 'orders' WHEN 1 THEN 'users' ELSE 'items' END) || '/{id}'
           ELSE '/api/' || (CASE (event_id % 3) WHEN 0 THEN 'orders' WHEN 1 THEN 'users' ELSE 'items' END) || '/' || CAST(event_id % 10 AS VARCHAR)
      END AS path,
      CASE WHEN (event_id % 3) = 0 THEN ' via ${Dictionary.hotAlias}' ELSE '' END AS hot,
      'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') || '-' || strftime(ts, '%Y%m%d') AS conv_id
    FROM events
  )
)"""

  /** Wrap an oracle query body with the shared derivation CTEs. */
  def oracle(body: String): String = oracleCte + "\n" + body
}
