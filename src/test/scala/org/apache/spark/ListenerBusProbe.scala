package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Test-side view of a context's listener bus, which Spark keeps
  * package-private. */
object ListenerBusProbe {
  def count[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[T]().size

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
