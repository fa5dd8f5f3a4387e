package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Test access to the `private[sql]` seam a session uses to install the
  * functions a [[SparkSessionExtensions]] injected: lets a suite check
  * the extensions path without building a session (the
  * `spark.sql.extensions` conf is static per context). */
object ExtensionFunctions {

  /** The builtin function registry plus everything `ext` injects. */
  def registry(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(FunctionRegistry.builtin.clone())

  /** The builtin registry alone, for a before/after comparison. */
  def builtin: SimpleFunctionRegistry = FunctionRegistry.builtin
}
