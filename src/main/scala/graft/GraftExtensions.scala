package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions (the whole `GraftFunctions.table`) so SQL users
  * get them too.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions` on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // optimizer rule: O(1) length-difference guard ahead of O(len²)
    // edit-distance filters (see graft.plans.LevenshteinGuard)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinGuard)
    GraftFunctions.table.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), builder))
    }
  }
}
