package graft.tools

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan auditor: dumps the formatted physical plan of each registry query so
  * scan pruning (ReadSchema/PushedFilters), join strategies, and
  * whole-stage-codegen spans can be reviewed per round.
  *
  * `-executed` collects each query, then prints its AQE-final plan with
  * every node's row/partition/time metrics (`[planmetrics]` lines): the
  * no-UI substitute for the SQL tab, and the only place runtime decisions
  * (ReusedExchange, coalesced reads, SMJ→BHJ demotions) show. It covers
  * the query's last segment only; a checkpointed query's earlier segments
  * are jobs in TimeQuery's job lines. `-allplans` collects each query and
  * prints the executed plan of EVERY execution it runs, loop-internal
  * checkpoints and collects included.
  *
  * Usage: runMain graft.tools.ExplainAll <sfDir> [-executed] [-allplans]
  *   [queryName ...] — on `SPARK_GRAFT_CPUS` cores (default 4).
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (flags, only) = args.drop(1).toSet.partition(_.startsWith("-"))
    require(flags.subsetOf(Set("-executed", "-allplans")),
      s"unknown flag among ${flags.mkString(" ")}")
    val spark = graft.LocalSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    if (flags("-allplans")) spark.listenerManager.register(
      new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = {
          println(s"\n--- execution [$funcName] ${durationNs / 1000000} ms ---")
          println(qe.executedPlan.toString)
        }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })
    for (q <- graft.SparkEntry.registry if only.isEmpty || only(q.name)) {
      println(s"\n===================== ${q.name} =====================")
      try {
        val df = q.fn(spark, sfDir)
        if (flags.isEmpty) df.explain("formatted")
        else {
          // collect(), not runToCompletion: the noop write plans a NEW
          // command over df, leaving df's own plan unexecuted
          df.collect()
          org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
          if (flags("-executed")) dumpMetrics(df.queryExecution.executedPlan, 0)
        }
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }

  private def dumpMetrics(p: SparkPlan, depth: Int): Unit = {
    def g(k: String) = p.metrics.get(k).map(_.value)
    val rows = g("numOutputRows").map(v => s" rows=$v").getOrElse("")
    val parts = g("numPartitions").map(v => s" parts=$v").getOrElse("")
    val times = p.metrics.filter(_._1.toLowerCase.contains("time"))
      .map { case (k, v) => s"$k=${v.value}" }.mkString(" ")
    println(s"[planmetrics] ${"  " * depth}${p.nodeName}$rows$parts $times")
    p match {
      case a: AdaptiveSparkPlanExec => dumpMetrics(a.executedPlan, depth + 1)
      case s: QueryStageExec => dumpMetrics(s.plan, depth + 1)
      case r: ReusedExchangeExec =>
        println(s"[planmetrics] ${"  " * (depth + 1)}(reused: ${r.child.nodeName})")
      case _ => p.children.foreach(dumpMetrics(_, depth + 1))
    }
  }
}
