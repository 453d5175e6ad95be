package org.apache.spark

/** Test shim: listener events reach a SparkListener asynchronously, and the
  * bus's wait-until-empty is private[spark]. Declared inside the spark
  * package so specs can count jobs deterministically. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
