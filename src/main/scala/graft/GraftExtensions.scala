package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.TextMetrics

/** SparkSessionExtensions injector — makes the custom Catalyst
  * expressions available to ANY session created with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`), including pure-SQL
  * users; the per-session `TextMetrics.register` path remains for
  * programmatic use. Both install `TextMetrics.sqlFunctions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    TextMetrics.sqlFunctions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
}
