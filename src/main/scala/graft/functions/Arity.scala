package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Exact-arity guard for the SQL registry lambdas: Spark's function
  * registry hands the builder whatever argument list the SQL call
  * supplied, and a builder that indexes `exprs(0..n-1)` would
  * silently DROP extra arguments — `lsh_bucket(v, 4, 12)` computing a
  * 4-plane bucket while discarding 12 is a wrong-answer factory. Every
  * builder of [[GraftFunctions.all]] funnels through here.
  */
private[functions] object Arity {
  def checked(name: String, n: Int, exprs: Seq[Expression]): Seq[Expression] = {
    require(exprs.length == n,
      s"$name expects $n argument(s), got ${exprs.length}")
    exprs
  }
}
