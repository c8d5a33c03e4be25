package graft.query

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, GraftPersistedLeaf}
import org.apache.spark.sql.functions._
import graft.util.Ckpt

/** Resident leaves of the serving path: each served frame's derived tables
  * (its node leaf, its BFS edge leaves in [[Adjacency]]) are built at most
  * once for as long as the caller holds the same `DataFrame` OBJECT (the
  * reference serves from a graph it keeps resident and indexed:
  * BTreeMapGraph key-prefix scans, btreemap_graph.rs:81-114, or Neo4j's
  * store under APOC, queries.ts:616-759).
  *
  * The memo is keyed by the frame's identity (never by its plan, so two
  * frames with equal plans but different rows, e.g. two reads of one
  * parquet path around an overwrite, cannot share a leaf) and holds the
  * frame weakly. Lifetime rule: once the frame is garbage, a Cleaner drops
  * its leaves, and Spark's ContextCleaner then unpersists their blocks.
  * Leaves keep their lineage ([[GraftPersistedLeaf]]): a lost block is
  * recomputed on the next read instead of failing it.
  *
  * Builds run under one lock, so concurrent first reads of the same frame
  * build its leaf once.
  */
object Resident {

  private val cleaner = java.lang.ref.Cleaner.create()
  // frame -> memo id; the frame is the weak key, so this map never keeps a
  // frame alive, and a stale entry holds only a boxed id
  private val ids = new java.util.WeakHashMap[DataFrame, java.lang.Long]()
  private val leaves = mutable.Map.empty[Long, mutable.Map[Any, DataFrame]]
  private var lastId = 0L

  /** The leaf of `frame` under `spec` (any value with structural equality
    * naming what `build` derives), built on first use.
    */
  def leaf(frame: DataFrame, spec: Any)(build: => DataFrame): DataFrame = synchronized {
    val id: Long = ids.computeIfAbsent(frame, { f =>
      lastId += 1
      val id = lastId
      // the action captures only the id: it must not keep the frame alive
      cleaner.register(f, () => Resident.synchronized { leaves.remove(id); () })
      id
    })
    leaves.getOrElseUpdate(id, mutable.Map.empty).getOrElseUpdate(spec, build)
  }

  // the text columns search scores, lower-cased once in the node leaf
  private val Lowered: Seq[String] = Seq("name", "body", "conv_id")

  /** The node leaf's lower-cased copy of `column`. */
  def lc(column: String): String = s"${column}_lc"

  private case object NodeLeaf

  /** The node leaf of `nodes`: its stored columns plus a lower-cased copy
    * of each scored text column it has, made once per frame instead of once
    * per search.
    */
  def nodes(nodes: DataFrame): DataFrame = leaf(nodes, NodeLeaf) {
    val lowered = Lowered.filter(nodes.columns.contains).map(c => lower(col(c)).as(lc(c)))
    GraftPersistedLeaf(nodes.select(col("*") +: lowered: _*), Ckpt.level)
  }
}
