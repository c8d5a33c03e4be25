package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.{Dictionary, Mentions}

/** The engine's one mention extractor — the mapPartitions/broadcast-trie
  * pass — must emit the same mention multiset as [[reference]], the same
  * rules written as a pure-Catalyst regex union.
  */
class ExtractionSpec extends SparkSpec {

  /** The extraction rules as Catalyst expressions (regexp_extract_all /
    * explode), one branch per mention family, over turns within the A4
    * size limit.
    */
  private def reference(transcripts: DataFrame): DataFrame = {
    val t = transcripts.where(length(col("text")) <= Mentions.MaxTurnChars)
    val nullS = lit(null).cast("string")

    val entities = t
      .select(
        col("conv_id"),
        col("turn_idx"),
        lit("Entity").as("mention_type"),
        explode(regexp_extract_all(col("text"), lit(Dictionary.aliasPattern), lit(1)))
          .as("name"),
        nullS.as("verb"),
        nullS.as("path")
      )

    val handlers = t
      .withColumn("name", regexp_extract(col("text"), Dictionary.handlerPattern, 1))
      .where(length(col("name")) > 0)
      .select(
        col("conv_id"),
        col("turn_idx"),
        when(col("role") === "tool", "FunctionDef").otherwise("FunctionCall").as("mention_type"),
        col("name"),
        nullS.as("verb"),
        nullS.as("path")
      )

    val verbPath = t
      .withColumn("verb", regexp_extract(col("text"), Dictionary.verbPathPattern, 1))
      .withColumn("path", regexp_extract(col("text"), Dictionary.verbPathPattern, 2))
      .where(length(col("verb")) > 0 && col("role").isin("tool", "assistant"))
      .select(
        col("conv_id"),
        col("turn_idx"),
        when(col("role") === "tool", "Endpoint").otherwise("Request").as("mention_type"),
        col("path").as("name"),
        col("verb"),
        col("path")
      )

    val tools = t
      .where(col("tool").isNotNull)
      .select(
        col("conv_id"),
        col("turn_idx"),
        lit("Tool").as("mention_type"),
        col("tool").as("name"),
        nullS.as("verb"),
        nullS.as("path")
      )

    entities.unionByName(handlers).unionByName(verbPath).unionByName(tools)
  }

  test("Catalyst extraction == mapPartitions trie extraction") {
    val t = SparkTestSession.transcripts
    assertSameRows(reference(t), Mentions.extract(t))
  }

  test("trie longest-match semantics: no prefix-alias shadowing") {
    import spark.implicits._
    val t = Seq(
      ("c1", 0, "user", "please check ApacheSpark and Spark and SparkEngine", None: Option[String],
        new java.sql.Timestamp(0L)),
      ("c1", 1, "user", "AmazonS3 vs S3", None: Option[String], new java.sql.Timestamp(1L))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val names = Mentions
      .extract(t)
      .where(col("mention_type") === "Entity")
      .select("turn_idx", "name")
      .as[(Int, String)]
      .collect()
      .toSet
    assert(names == Set((0, "ApacheSpark"), (0, "Spark"), (0, "SparkEngine"),
      (1, "AmazonS3"), (1, "S3")))
  }

  test("mention extraction emits all five mention families") {
    val types = SparkTestSession.graph.mentions
      .select("mention_type").distinct().collect().map(_.getString(0)).toSet
    assert(
      Set("Entity", "FunctionDef", "FunctionCall", "Endpoint", "Request", "Tool")
        .subsetOf(types),
      s"got $types"
    )
  }
}
