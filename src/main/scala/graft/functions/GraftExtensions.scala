package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `SparkSessionExtensions` injection point, so the engine's functions are
  * available in ANY session without code changes:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)` on the builder). Same registry
  * entries as [[GraftFunctions.register]] but installed at session build
  * time — the right hook for a deployed library.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.Table.foreach { case (name, usage, builder) =>
      val info = new ExpressionInfo(classOf[VectorFunctions.type].getName, name, usage, "", "")
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
