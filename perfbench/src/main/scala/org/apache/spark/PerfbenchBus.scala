package org.apache.spark

/** The listener bus delivers events asynchronously. A traced op is only
  * attributed once every event it caused has reached the ledger, so the
  * benchmark drains the bus after each op. The bus is `private[spark]`,
  * hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
