package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point, for sessions built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * — registers graft's native expressions at session construction.
  * Driver-owned sessions use [[GraftFunctions.register]] instead. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RollupRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    graft.catalog.IcebergTvf.all.foreach(ext.injectTableFunction)
  }
}
