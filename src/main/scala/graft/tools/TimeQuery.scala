package graft.tools

import graft.{LocalSession, SparkEntry}
import graft.ops.StreamingQueries

/** Local profiling harness: time named registry queries in the Bench session
  * (`LocalSession`), one warm-up run then N timed runs each, min reported —
  * so a candidate rewrite can be A/B-ed on one query in seconds instead of
  * re-running the full bench. Each run goes through
  * `SparkEntry.runToCompletion`, as in Bench.
  *
  * Prints one `[timequery] <query> min=… warm=… times=…` line per query.
  * A query that runs streams also prints one `[timequery] <query> exec …`
  * line per stream (its `StreamingQueries.lastRuns` key): the summed
  * micro-batch execution seconds of the warm-up and of each timed run. That
  * splits real micro-batch work from the fixed AvailableNow bootstrap
  * (checkpoint dir, query start/stop), where most wall drift on streams
  * lands; the exec number is the one comparable across hosts.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <reps> <query> [query ...]
  * With `-explain` among the arguments, also prints the formatted plan once
  * per query (e.g. `-explain graph_bfs`). With `-executed`, prints the
  * post-run executedPlan instead — the AQE-final tree, the only place
  * runtime decisions (ReusedExchange, skew splits, SMJ→BHJ demotions) are
  * visible. With `-allplans`, prints the executedPlan of EVERY execution
  * the query runs (loop-internal checkpoints/aggregates too).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val explain = args.contains("-explain")
    val executed = args.contains("-executed")
    val allPlans = args.contains("-allplans")
    val names = args.drop(2).filterNot(a =>
      a == "-explain" || a == "-executed" || a == "-allplans")
    val spark = LocalSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000).selectExpr("sum(id)").collect()
    // -allplans: print the AQE-final executedPlan of EVERY execution the
    // query triggers — including loop-internal localCheckpoint / collect /
    // first() materializations that never surface in the query's own
    // executedPlan. This is the only repo-side way to verify runtime
    // exchange reuse inside a convergence loop's fused block.
    if (allPlans) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          println(s"\n--- execution [$funcName] ${durationNs / 1000000} ms ---")
          println(qe.executedPlan.toString)
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    val registry = SparkEntry.queries
    def f3(ts: Seq[Double]) = ts.map(t => f"$t%.3f").mkString(",")
    names.foreach { name =>
      val fn = registry.getOrElse(name, sys.error(s"unknown query: $name"))
      if (explain) fn(spark, sfDir).explain("formatted")
      if (executed) {
        val df = fn(spark, sfDir)
        // collect(), not runToCompletion: the noop write plans a NEW
        // command over df, leaving df's own executedPlan unexecuted
        // (isFinalPlan=false) — registry outputs are bounded, so collect
        // is safe here
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
      // one run: its wall and the exec seconds of every stream it ran
      def once(): (Double, Map[String, Double]) = {
        StreamingQueries.lastRuns = Map.empty
        val t0 = System.nanoTime()
        SparkEntry.runToCompletion(fn(spark, sfDir))
        ((System.nanoTime() - t0) / 1e9,
          StreamingQueries.lastRuns.map { case (k, r) => k -> r.execSec })
      }
      val warm = once() // warm-up: codegen + parquet footers
      val runs = Seq.fill(reps)(once())
      val times = runs.map(_._1)
      println(f"[timequery] $name min=${times.min}%.3f warm=${warm._1}%.3f times=${f3(times)}")
      for (stream <- warm._2.keys.toSeq.sorted) {
        val execs = runs.map(_._2.getOrElse(stream, Double.NaN))
        println(f"[timequery] $name exec $stream warm=${warm._2(stream)}%.3f times=${f3(execs)}")
      }
    }
    spark.stop()
  }
}
