package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Test bridge to `SparkSessionExtensions.registerFunctions`, which is
  * `private[sql]`: the function names an extension set would register
  * into a session built with it.
  */
object ExtensionsProbe {
  def injectedFunctionNames(ext: SparkSessionExtensions): Set[String] = {
    val reg = new SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg.listFunction().map(_.funcName).toSet
  }
}
