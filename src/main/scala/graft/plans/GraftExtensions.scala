package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.RollingHash

/** The engine's one rule-injection path: the custom Catalyst functions for
  * SQL use (`rolling_hash`, `cosine_similarity`, `ngrams`), the as-of join
  * planner strategy and the two optimizer rules. [[graft.LocalSession]]
  * builds every session with it; an outside session can take it with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // arity-checked builders: children(i) on a wrong-arity SQL call would
    // surface as an internal IndexOutOfBounds stack trace; a named
    // IllegalArgumentException reads like the builtin arity errors
    def arity(name: String, n: Int)(
        children: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
      if (children.length != n)
        throw new IllegalArgumentException(
          s"$name requires exactly $n argument(s), got ${children.length}")
      children
    }
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        RollingHash(arity("rolling_hash", 1)(children).head)))
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
        "cosine_similarity"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val c = arity("cosine_similarity", 2)(children)
        graft.functions.CosineSimilarity(c.head, c(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("ngrams"),
      new ExpressionInfo(classOf[graft.functions.NGrams].getName, "ngrams"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val c = arity("ngrams", 2)(children)
        graft.functions.NGrams(c.head, c(1))
      }))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushLeftFilterThroughAsOfJoin)
    ext.injectOptimizerRule(_ => RewriteIntervalJoin)
  }
}
