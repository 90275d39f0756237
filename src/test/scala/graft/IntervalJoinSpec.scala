package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.RewriteIntervalJoin

/** The interval-join rewrite rule: same results as the nested-loop plan
  * (including negative values and nulls), no nested-loop operator in the
  * rewritten physical plan, and no firing when an equi-conjunct exists.
  * The test session has the rule on (LocalSession installs it for every
  * plan); each reference runs with it excluded.
  */
class IntervalJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._


  private def left: DataFrame =
    Seq((1L, -25L), (2L, -3L), (3L, 0L), (4L, 7L), (5L, 31L), (6L, 100L))
      .toDF("lid", "x").repartition(3)
  private def right: DataFrame =
    Seq((10L, -30L), (11L, -1L), (12L, 4L), (13L, 29L), (14L, 95L), (15L, 200L))
      .toDF("rid", "y").repartition(2)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select($"lid", $"rid").as[(Long, Long)].collect().toSet

  /** The nested-loop reference: `l.join(r, cond)` planned with the rule
    * excluded through Spark's own `spark.sql.optimizer.excludedRules`. Its
    * plan must be a BroadcastNestedLoopJoin, or the comparison would check
    * the rewrite against itself.
    */
  private def reference(l: DataFrame, r: DataFrame,
      cond: Column): Set[(Long, Long)] = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, RewriteIntervalJoin.ruleName)
    try {
      val df = l.join(r, cond)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"), plan)
      pairs(df)
    } finally spark.conf.unset(key)
  }

  test("rewritten join returns exactly the nested-loop result (incl. negatives)") {
    val cond = abs(col("x") - col("y")) <= lit(10L)
    val expected = reference(left, right, cond)
    val got = pairs(left.join(right, cond))
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("rewritten plan joins on the bucket key — no nested loop, no cartesian") {
    val plan = left.join(right, abs(col("x") - col("y")) <= lit(10L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("__graft_bucket"), plan)
  }

  test("null interval values drop on both plans identically") {
    val l = Seq((1L, Some(5L)), (2L, None)).toDF("lid", "x").repartition(2)
    val r = Seq((10L, Some(7L)), (11L, None)).toDF("rid", "y")
    val cond = abs(col("x") - col("y")) <= lit(10L)
    val expected = reference(l, r, cond)
    val got = pairs(l.join(r, cond))
    assert(got === expected)
    assert(got === Set((1L, 10L)))
  }

  test("one-sided band (attribution idiom) rewrites and matches nested loop") {
    // y ∈ [x − 20, x]: the `click before purchase within an hour` shape
    val cond = col("y") <= col("x") && col("y") >= col("x") - lit(20L)
    val expected = reference(left, right, cond)
    val df = left.join(right, cond)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("__graft_bucket"), plan)
    val got = pairs(df)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("asymmetric band with strict bounds matches nested loop") {
    // y − x ∈ (−15, 8]: mixes strict and non-strict, offsets on both sides
    val cond = col("y") < col("x") + lit(8L) + lit(1L) - lit(0L) &&
      col("x") - lit(15L) < col("y")
    val expected = reference(left, right, cond)
    val got = pairs(left.join(right, cond))
    assert(got === expected)
  }

  test("shifted band far from zero rewrites and matches nested loop") {
    // y ∈ [x + 90, x + 110] — band whose offsets dwarf its span
    val cond = col("y") >= col("x") + lit(90L) && col("y") <= col("x") + lit(110L)
    val expected = reference(left, right, cond)
    val df = left.join(right, cond)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bucket"))
    val got = pairs(df)
    assert(got === expected)
    assert(got.nonEmpty) // x=7→y=95..117? rid 14 (95): 95−7=88 no; x=−3→y=87..107: 95 ✓
  }

  test("does not fire when an equi-conjunct already exists") {
    val l = Seq((1L, 1L, 5L)).toDF("lid", "k", "x")
    val r = Seq((10L, 1L, 7L)).toDF("rid", "k2", "y")
    val plan = l.join(r, col("k") === col("k2") &&
        abs(col("x") - col("y")) <= lit(10L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_bucket"), plan)
  }
}
