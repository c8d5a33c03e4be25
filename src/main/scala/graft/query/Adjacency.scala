package graft.query

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, GraftPersistedLeaf}
import org.apache.spark.sql.functions._
import graft.util.Ckpt

/** Resident adjacency leaves for the BFS operators (the reference walks a
  * graph it keeps in memory: BTreeMapGraph, or APOC expandConfig over
  * Neo4j's store, queries.ts:616-759).
  *
  * A leaf is the `(from, to)` step relation of one edge frame under one step
  * spec, hash-partitioned on `from` so each level's frontier join streams it
  * with no exchange on the leaf side. It is built at most once for as long
  * as the caller holds the same edge `DataFrame` OBJECT: the memo is keyed
  * by the frame's identity (never by its plan, so two frames with equal
  * plans but different rows cannot share a leaf) and holds the frame
  * weakly. Lifetime rule: once the frame is garbage, a Cleaner drops its
  * leaves, and Spark's ContextCleaner then unpersists their blocks. The
  * leaf keeps its lineage ([[GraftPersistedLeaf]]): a lost block is
  * recomputed on the next read, where a `localCheckpoint` leaf kept across
  * calls would fail that read and every later one.
  *
  * Builds run under one lock, so concurrent first traversals of the same
  * frame build its leaf once.
  */
object Adjacency {

  /** One leg of a step: edges of `edgeTypes` (every type when empty), walked
    * src→dst when `forward`, dst→src otherwise.
    */
  final case class Leg(edgeTypes: Seq[String], forward: Boolean)

  /** Both directions over every edge type: the shortest-path step. */
  val Undirected: Seq[Leg] = Seq(Leg(Nil, forward = true), Leg(Nil, forward = false))

  private val cleaner = java.lang.ref.Cleaner.create()
  // frame -> memo id; the frame is the weak key, so this map never keeps a
  // frame alive, and a stale entry holds only a boxed id
  private val ids = new java.util.WeakHashMap[DataFrame, java.lang.Long]()
  private val leaves = mutable.Map.empty[Long, mutable.Map[Seq[Leg], DataFrame]]
  private var lastId = 0L

  /** The resident leaf of `edges` under `legs`, built on first use. */
  def leaf(edges: DataFrame, legs: Seq[Leg]): DataFrame = synchronized {
    val id: Long = ids.computeIfAbsent(edges, { frame =>
      lastId += 1
      val id = lastId
      // the action captures only the id: it must not keep the frame alive
      cleaner.register(frame, () => Adjacency.synchronized { leaves.remove(id); () })
      id
    })
    leaves.getOrElseUpdate(id, mutable.Map.empty).getOrElseUpdate(legs, build(edges, legs))
  }

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
