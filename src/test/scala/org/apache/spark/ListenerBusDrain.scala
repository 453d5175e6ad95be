package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Test shim: listener events reach a SparkListener asynchronously, and the
  * bus's wait-until-empty and listener lookup are private[spark]. Declared
  * inside the spark package so specs can count jobs deterministically and
  * see which listeners are registered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** the listeners of class `T` currently on the bus */
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
