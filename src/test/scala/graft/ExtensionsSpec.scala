package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{AsOfJoin, AsOfJoinExec}

/** The one rule-injection path: the shared test session comes from
  * `LocalSession.create`, which builds with [[graft.plans.GraftExtensions]].
  * The SQL functions resolve, the as-of strategy and both optimizer rules
  * shape registry plans, and nothing is registered at query time.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("rolling_hash, cosine_similarity and ngrams resolve from SQL") {
    val r = spark.sql(
      """SELECT rolling_hash('abc') AS rh,
        |       cosine_similarity(array(1.0d, 0.0d), array(1.0d, 1.0d)) AS cs"""
        .stripMargin).collect().head
    assert(r.getLong(0) === ('a' * 31 + 'b') * 31 + 'c')
    assert(math.abs(r.getDouble(1) - 1.0 / math.sqrt(2)) < 1e-15)
    // ngrams is a generator: one row per n-gram
    val ng = spark.sql("SELECT ngrams('a b c', 2) AS ngram").collect()
    assert(ng.map(_.getString(0)).toSeq === Seq("a b", "b c"))
  }

  test("a wrong-arity call raises the named IllegalArgumentException") {
    for ((call, msg) <- Seq(
        "rolling_hash('a', 'b')" -> "rolling_hash requires exactly 1 argument(s), got 2",
        "cosine_similarity(array(1.0d))" -> "cosine_similarity requires exactly 2 argument(s), got 1",
        "ngrams('a b')" -> "ngrams requires exactly 2 argument(s), got 1")) {
      val e = intercept[Exception](spark.sql(s"SELECT $call").collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage == msg), s"$call raised $e")
    }
  }

  test("registry plans use the injected strategy and rules; nothing registers at query time") {
    val asof = SparkEntry.queries("join_asof_native")(spark, sfDir)
    // purchase_id is a left-side column: the filter must sit below the join
    val filtered = asof.filter(col("purchase_id") > 7L)
    val opt = filtered.queryExecution.optimizedPlan
    val joins = opt.collect { case j: AsOfJoin => j }
    assert(joins.size === 1, opt)
    assert(joins.head.left.toString.contains("> 7"),
      s"left filter not pushed below the as-of join:\n$opt")
    assert(!joins.head.right.toString.contains("> 7"), opt)
    filtered.collect()
    val exec = filtered.queryExecution.executedPlan
    assert(new AdaptiveSparkPlanHelper {}.find(exec)(_.isInstanceOf[AsOfJoinExec])
      .isDefined, exec)
    val range = SparkEntry.queries("join_range_rule")(spark, sfDir)
    range.collect()
    assert(range.queryExecution.executedPlan.toString.contains("__graft_bucket"))
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }
}
