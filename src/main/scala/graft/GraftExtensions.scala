package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `spark.sql.extensions` entry point — the cluster-deployment path.
  *
  * [[GraftSession]] covers embedded/local use, but a spark-submit or
  * managed-cluster user builds the session from configuration, where the
  * idiomatic hook is
  * `--conf spark.sql.extensions=graft.GraftExtensions`: every graft SQL
  * function (the codegen'd kernel table plus the two aggregates) is
  * injected at session build time, before any user code
  * runs — no `GraftFunctions.register` call, no temp-function scope.
  * Without it, a caller-built session gets the functions on its first
  * [[graft.Tables.load]], which registers them as temp functions; both
  * paths share ONE builder list
  * ([[graft.functions.GraftFunctions.builders]]), so they cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.builders.foreach { case (name, b) =>
      // DESCRIBE FUNCTION metadata: point at the function table, where a
      // reader finds each name's kernel row (the builder lambda hides
      // the expression until invoked)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name), b))
    }
}
