package graft.query

import org.apache.spark.sql.{DataFrame, GraftPersistedLeaf}
import org.apache.spark.sql.functions._
import graft.util.Ckpt

/** Resident adjacency leaves for the BFS operators (the reference walks a
  * graph it keeps in memory: BTreeMapGraph, or APOC expandConfig over
  * Neo4j's store, queries.ts:616-759).
  *
  * A leaf is the `(from, to)` step relation of one edge frame under one step
  * spec, hash-partitioned on `from` so each level's frontier join streams it
  * with no exchange on the leaf side. It lives in the [[Resident]] memo: it
  * is built at most once for as long as the caller holds the same edge
  * `DataFrame` object, and released once that frame is garbage.
  */
object Adjacency {

  /** One leg of a step: edges of `edgeTypes` (every type when empty), walked
    * src→dst when `forward`, dst→src otherwise.
    */
  final case class Leg(edgeTypes: Seq[String], forward: Boolean)

  /** Both directions over every edge type: the shortest-path step. */
  val Undirected: Seq[Leg] = Seq(Leg(Nil, forward = true), Leg(Nil, forward = false))

  /** The resident leaf of `edges` under `legs`, built on first use. */
  def leaf(edges: DataFrame, legs: Seq[Leg]): DataFrame =
    Resident.leaf(edges, legs)(build(edges, legs))

  private def build(edges: DataFrame, legs: Seq[Leg]): DataFrame =
    Query.withAqeOff(edges.sparkSession) {
      val steps = legs.map { case Leg(types, fwd) =>
        val e = if (types.isEmpty) edges else edges.where(col("edge_type").isin(types: _*))
        if (fwd) e.select(col("src_key").as("from"), col("dst_key").as("to"))
        else e.select(col("dst_key").as("from"), col("src_key").as("to"))
      }
      val byFrom = steps.reduce(_ unionByName _).repartition(col("from"))
      // legs can overlap (both directions of one edge, or an edge type named
      // in two legs); hash(from) already clusters (from, to), so this dedup is
      // partition-local and keeps the partitioning. A single leg keeps its
      // rows as stored, so per-edge callers (repoMap) see every edge.
      val step = if (legs.size > 1) byFrom.dropDuplicates("from", "to") else byFrom
      GraftPersistedLeaf(step, Ckpt.level)
    }
}
