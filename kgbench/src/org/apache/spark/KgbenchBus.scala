package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer must see every task event before it writes its totals.
  */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
