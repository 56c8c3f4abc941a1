package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Bridge to `private[sql] SparkSessionExtensions.registerFunctions`: what a
  * session builder does with the functions an extension injects.
  */
object ExtensionsBridge {
  def registerFunctions(
      extensions: SparkSessionExtensions, registry: FunctionRegistry): FunctionRegistry =
    extensions.registerFunctions(registry)
}
