package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{SimpleFunctionRegistry, SimpleTableFunctionRegistry}

/** Names of the functions and table functions a SparkSessionExtensions
  * injects, registered the way a session built with
  * `spark.sql.extensions` registers them. The registration methods are
  * private to Spark's sql package, hence this package. */
object TestExtensions {
  def functions(ext: SparkSessionExtensions): Seq[String] =
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName)

  def tableFunctions(ext: SparkSessionExtensions): Seq[String] =
    ext.registerTableFunctions(new SimpleTableFunctionRegistry).listFunction().map(_.funcName)
}
