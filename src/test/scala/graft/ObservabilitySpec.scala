package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Operational-metrics surface: `Dataset.observe` (named in-query metric
  * collection — the zero-extra-pass way to audit row counts and checksums
  * inside a production pipeline run) and `QueryExecutionListener` (the hook
  * a monitoring integration attaches to). Both run against real queries at
  * sf0.001.
  */
class ObservabilitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("observe() collects row counts and checksums inside a single pass") {
    val obs = Observation("lineitem_audit")
    val li = Tables.load(spark, sfDir, "lineitem")
    val expected = li.count()
    val filtered = li
      .observe(obs,
        count(lit(1)).as("rows_in"),
        sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
          .as("cents_in"))
      .filter(col("l_quantity") > 25)
    val kept = filtered.count()
    val m = obs.get
    assert(m("rows_in") === expected) // observed BEFORE the filter
    assert(kept < expected)
    assert(m("cents_in").asInstanceOf[Long] > 0L)
  }

  test("QueryExecutionListener sees completed executions with duration") {
    val calls = new AtomicLong(0L)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        calls.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q6_revenue")(spark, sfDir).count()
      // listener delivery is async on the listener bus
      val deadline = System.nanoTime() + 10e9.toLong
      while (calls.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(calls.get() > 0, "listener never saw the execution")
    } finally spark.listenerManager.unregister(listener)
  }

  test("runToCompletion evaluates every output column; count() does not") {
    val acc = spark.sparkContext.longAccumulator("udf_calls")
    val bump = udf { (x: Long) => acc.add(1L); x }
    val df = spark.range(0, 100, 1, 4).select(bump(col("id")).as("v"))
    assert(df.count() === 100L)
    assert(acc.value === 0L, "count() pruned the column, so the UDF never ran")
    SparkEntry.runToCompletion(df)
    assert(acc.value === 100L)
  }
}
