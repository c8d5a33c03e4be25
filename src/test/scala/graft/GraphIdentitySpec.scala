package graft

import org.apache.spark.sql.functions._
import graft.extract.Dictionary
import graft.pipeline.GraphBuild

/** Node identity: a node row and every edge that names it are keyed by one
  * function, so the built graph is closed — no edge endpoint is a key that
  * no node carries.
  */
class GraphIdentitySpec extends SparkSpec {

  /** (edge_type, strategy, end, edges) for each endpoint group with a key that is no node's. */
  private def dangling(g: GraphBuild.Graph): Seq[(String, String, String, Long)] = {
    val keys = g.nodes.select("node_key")
    Seq("src_key", "dst_key").flatMap { end =>
      g.edges
        .join(keys.withColumnRenamed("node_key", end), Seq(end), "left_anti")
        .groupBy("edge_type", "strategy")
        .count()
        .collect()
        .map(r => (r.getString(0), r.getString(1), end, r.getLong(2)))
    }
  }

  test("every edge endpoint is a node, per (edge_type, strategy), with and without stubs") {
    // kg_mock_inventory's slice: without kafka's handler definitions its
    // calls fall through to unverified stubs, the only fixture that reaches
    // the stub Function, Mock and USES/unverified branches
    val mockedDef = col("role") === "tool" &&
      regexp_extract(col("text"), Dictionary.handlerPattern, 1).isin(SparkEntry.mockedHandlers: _*)
    val slice = GraphBuild.build(spark, SparkTestSession.transcripts.where(!mockedDef))
    val stubEdges = slice.edges
      .where(col("strategy") === "mock_of" ||
        (col("edge_type") === "USES" && col("strategy") === "unverified"))
      .select("strategy").distinct().collect().map(_.getString(0)).toSet
    assert(stubEdges == Set("mock_of", "unverified"))
    Seq("sf0.001" -> SparkTestSession.graph, "kg_mock_inventory slice" -> slice).foreach {
      case (name, g) =>
        val bad = dangling(g)
        assert(bad.isEmpty, s"$name: dangling endpoints ${bad.mkString(", ")}")
    }
  }
}
