package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** A leaf Dataset over a PERSISTED RDD of `df`'s rows that, like
  * `localCheckpoint`, reports `df`'s physical output partitioning, so joins
  * on the partitioning key need no exchange on its side. Unlike
  * `localCheckpoint` it keeps its lineage: a block that goes missing (lost
  * executor, eviction) is recomputed from the upstream shuffle files, or
  * from the source if those are gone too, instead of failing the read. The
  * RDD is reachable only through the returned Dataset, so once that is
  * dropped Spark's ContextCleaner unpersists it; nothing enters the
  * CacheManager. Spark keeps `Dataset.ofRows` private[sql], hence this
  * package. Materialized eagerly, as `localCheckpoint()` is.
  */
object GraftPersistedLeaf {
  def apply(df: DataFrame, level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    rdd.count()
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
