package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `SparkSessionExtensions` entry point: injects every entry of
  * [[graft.functions.GraftFunctions.all]] into a session's function
  * registry at construction. [[GraftSession.builder]] applies it to
  * every session the library builds; a session built elsewhere
  * (notebooks, spark-submit jobs, thrift servers) gets it the same way:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Extensions apply only when `getOrCreate` constructs the session: one
  * it returns pre-existing keeps its registry, and takes one
  * [[GraftSession.registerFunctions]] call instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.all.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), builder))
    }
}
