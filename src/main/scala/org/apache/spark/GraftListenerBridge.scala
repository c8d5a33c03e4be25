package org.apache.spark

import scala.reflect.ClassTag
import org.apache.spark.scheduler.SparkListenerInterface

/** Bridge to the two package-private listener-bus calls the engine's meter
  * (`graft.obs.Meter`) needs: finding an installed listener by its class,
  * and waiting until every posted event has been delivered.
  */
object GraftListenerBridge {
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
