package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Spark-native installation point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (set by
  * `GraftSession.tuned`) injects every graft kernel of
  * `GraftFunctions.table` into the session's function registry at
  * session build — the same mechanism a catalog/optimizer rule would use.
  * SQL-text users get the functions with zero Scala imports. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
}
