package org.apache.spark.sql

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Test access to Spark internals that are package-private: the listener
  * bus drain, the block manager, the cache manager's entry count, and the
  * RDD under a materialized leaf.
  */
object GraftTestHooks {

  /** Waits until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Removes every stored block of `rdd`, as losing the executors that hold
    * them would, while the RDD stays marked as persisted.
    */
  def dropBlocks(rdd: RDD[_]): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rdd.id, blocking = true)

  /** The RDD a checkpointed or resident leaf DataFrame scans. */
  def leafRdd(df: DataFrame): RDD[_] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
      .collectFirst { case r: LogicalRDD => r.rdd }
      .getOrElse(throw new IllegalArgumentException("not a leaf over an RDD"))

  /** Plans registered in the session's cache manager (`Dataset.cache()`). */
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Partitions of `rdd` the block manager currently holds. */
  def cachedPartitions(rdd: RDD[_]): Int = rdd.partitions.indices.count { p =>
    SparkEnv.get.blockManager.master.getLocations(RDDBlockId(rdd.id, p)).nonEmpty
  }
}
