package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Test shim: the functions a SparkSessionExtensions injector registers
  * are only visible through the private[sql] registerFunctions, so specs
  * read them here, on an empty registry, without building a session. */
object InjectedFunctions {
  def names(injector: SparkSessionExtensions => Unit): Set[String] = {
    val ext = new SparkSessionExtensions
    injector(ext)
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName).toSet
  }
}
