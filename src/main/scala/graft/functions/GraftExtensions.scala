package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point, for sessions built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * — injects at session construction the same SQL-text functions, table
  * functions, optimizer rules and strategies that
  * [[GraftFunctions.register]] adds to a driver-owned session.
  * DataFrame code needs neither: it uses the typed builders on
  * [[GraftFunctions]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    GraftFunctions.optimizerRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    GraftFunctions.strategies.foreach(strategy => ext.injectPlannerStrategy(_ => strategy))
    graft.catalog.IcebergTvf.all.foreach(ext.injectTableFunction)
  }
}
