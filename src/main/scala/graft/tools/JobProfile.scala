package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job decomposition of one registry query: wall time, task time, and
  * shuffle bytes per Spark job, so multi-job queries (checkpoint chains,
  * convergence loops) can be attributed stage by stage without the UI.
  * Usage: runMain graft.tools.JobProfile <sfDir> <query> [query ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.create(cpus)
    spark.range(1000).selectExpr("sum(id)").collect()

    final case class Job(id: Int, var desc: String, var t0: Long = 0L,
      var t1: Long = 0L, var taskMs: Long = 0L, var cpuMs: Long = 0L,
      var gcMs: Long = 0L, var deserMs: Long = 0L, var shufRead: Long = 0L,
      var shufWrite: Long = 0L, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        // job callsites are all "count at ..."; the stage callsites carry
        // the query-source line of the action that materialized them
        val sites = e.stageInfos.map(_.name).distinct.mkString(" | ")
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, (d + " " + sites).trim, e.time)
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              j.taskMs += m.executorRunTime
              j.cpuMs += m.executorCpuTime / 1000000L
              j.gcMs += m.jvmGCTime
              j.deserMs += m.executorDeserializeTime
              j.shufRead += m.shuffleReadMetrics.totalBytesRead
              j.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    }
    // walk the AQE-final executed plan printing per-node row/time metrics —
    // the no-UI substitute for the SQL tab (only covers the final segment
    // of checkpointed queries; earlier segments live in the job rows above)
    def dumpMetrics(p: org.apache.spark.sql.execution.SparkPlan,
        depth: Int): Unit = {
      val m = p.metrics
      def g(k: String) = m.get(k).map(_.value)
      val rows = g("numOutputRows").map(v => s" rows=$v").getOrElse("")
      val parts = g("numPartitions").map(v => s" parts=$v").getOrElse("")
      val times = m.filter(_._1.toLowerCase.contains("time"))
        .map { case (k, v) => s"$k=${v.value}" }.mkString(" ")
      println(s"[planmetrics] ${"  " * depth}${p.nodeName}$rows$parts $times")
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          dumpMetrics(a.executedPlan, depth + 1)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          dumpMetrics(q.plan, depth + 1)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          println(s"[planmetrics] ${"  " * (depth + 1)}(reused: ${r.child.nodeName})")
        case _ => p.children.foreach(dumpMetrics(_, depth + 1))
      }
    }
    val registry = graft.SparkEntry.queries
    names.foreach { name =>
      val fn = registry.getOrElse(name, sys.error(s"unknown query: $name"))
      fn(spark, sfDir).count() // warm: codegen + parquet footers
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.collect()
      val wall = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("GRAFT_PLAN_METRICS"))
        dumpMetrics(df.queryExecution.executedPlan, 0)
      // the listener bus is asynchronous: drain the tail of task events
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobprofile] $name wall=$wall%.3f jobs=${jobs.size}")
      jobs.values.foreach { j =>
        println(f"[jobprofile]   job=${j.id}%3d wall=${(j.t1 - j.t0) / 1e3}%7.3f " +
          f"taskSec=${j.taskMs / 1e3}%8.3f cpuSec=${j.cpuMs / 1e3}%8.3f " +
          f"gcSec=${j.gcMs / 1e3}%6.3f deserSec=${j.deserMs / 1e3}%6.3f " +
          f"tasks=${j.tasks}%4d " +
          f"shufR=${j.shufRead / 1e6}%8.2f MB shufW=${j.shufWrite / 1e6}%8.2f MB  ${j.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
