package graft.tools

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler._

import graft.{LocalSession, SparkEntry}

/** Local profiling harness: time named registry queries in the Bench session
  * (`LocalSession` on `SPARK_GRAFT_CPUS` cores, default 4 as in Bench), one
  * warm-up run then N timed runs each, min reported — so a candidate rewrite
  * can be A/B-ed on one query in seconds instead of re-running the full
  * bench. Every run goes through `SparkEntry.timeRun`, as in Bench: Spark's
  * cache is cleared first, so a query that caches an intermediate pays for
  * it in every run.
  *
  * Prints one `[timequery] <query> min=… warm=… times=…` line per query.
  * A query that runs streams also prints one `[timequery] <query> exec …`
  * line per stream (its `StreamingQueries.lastRuns` key): the summed
  * micro-batch execution seconds of the warm-up and of each timed run. That
  * splits real micro-batch work from the fixed AvailableNow bootstrap
  * (checkpoint dir, query start/stop), where most wall drift on streams
  * lands; the exec number is the one comparable across hosts.
  *
  * Then the fastest timed run's [[JobListener]] record: one
  * `[timequery] <query> profile max1taskS=… …` line (task totals over its
  * jobs) and one `[timequery] <query>   job=…` line per Spark job.
  * `max1taskS` is the longest stage that ran as a SINGLE task: a one-file
  * fixture scan is one task, so row-local compute placed before the first
  * exchange silently runs single-threaded (fix with `Tables.spreadIfNarrow`
  * or `repartition(n, col)`). A failed query prints one `FAILED` line.
  *
  * Usage: runMain graft.tools.TimeQuery <sfDir> <reps> [query ...]
  * With no query names, sweeps the whole registry.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val registry = SparkEntry.queries
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.registry.map(_.name)
    val spark = LocalSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.range(1000).selectExpr("sum(id)").collect()
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    def f3(ts: Seq[Double]) = ts.map(t => f"$t%.3f").mkString(",")
    names.foreach { name =>
      val fn = registry.getOrElse(name, sys.error(s"unknown query: $name"))
      // one run and the jobs it ran
      def run() = {
        listener.clear()
        val r = SparkEntry.timeRun(spark)(fn(spark, sfDir))
        org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
        r.map(_ -> listener.jobs)
      }
      // warm-up (codegen + parquet footers), then the timed runs
      Try((run().get, Seq.fill(reps)(run().get))) match {
        case Failure(e) => println(s"[timequery] $name FAILED: $e")
        case Success(((warm, _), runs)) =>
          val times = runs.map(_._1.wallSec)
          println(f"[timequery] $name min=${times.min}%.3f warm=${warm.wallSec}%.3f times=${f3(times)}")
          for (stream <- warm.streams.keys.toSeq.sorted) {
            val execs = runs.map(_._1.streams.get(stream).fold(Double.NaN)(_.execSec))
            println(f"[timequery] $name exec $stream warm=${warm.streams(stream).execSec}%.3f times=${f3(execs)}")
          }
          // the fastest run's jobs: one line of their totals, one line each
          val jobs = runs.minBy(_._1.wallSec)._2
          def stats(js: Seq[JobListener.Job]) = {
            def sec(f: JobListener.Job => Long) = js.map(f).sum / 1e3
            def mb(f: JobListener.Job => Long) = js.map(f).sum / 1e6
            f"max1taskS=${js.map(_.max1taskMs).maxOption.getOrElse(0L) / 1e3}%.3f " +
              f"tasks=${js.map(_.tasks).sum} runSec=${sec(_.runMs)}%.3f cpuSec=${sec(_.cpuMs)}%.3f " +
              f"gcSec=${sec(_.gcMs)}%.3f deserSec=${sec(_.deserMs)}%.3f shufR=${mb(_.shuffleRead)}%.2fMB " +
              f"shufW=${mb(_.shuffleWrite)}%.2fMB spill=${mb(_.spill)}%.2fMB"
          }
          println(s"[timequery] $name profile ${stats(jobs)} jobs=${jobs.size}")
          jobs.foreach(j => println(f"[timequery] $name   job=${j.id} " +
            f"wall=${j.wallMs / 1e3}%.3f ${stats(Seq(j))}  ${j.desc.take(60)}"))
      }
    }
    spark.stop()
  }
}

/** Per-job task metrics of the Spark jobs that run while it is attached:
  * wall time, run/CPU/GC/deserialize time, shuffle read and write, spill,
  * and the longest stage that ran as a single task. Only successful tasks
  * count, and stages are keyed per attempt, so a retried or speculative
  * task can neither make a single-task stage look multi-task nor fold
  * failed-run time into the sums. Events arrive on the listener bus: drain
  * it (`GraftListenerBridge.drainListenerBus`) before reading [[jobs]].
  */
final class JobListener extends SparkListener {
  import JobListener.Job

  private val started = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.Map.empty[Int, Int]

  def clear(): Unit = synchronized { started.clear(); stageToJob.clear() }

  /** The jobs seen since the last [[clear]], in start order. */
  def jobs: Seq[Job] = synchronized {
    started.values.map(j => j.copy(stageTasks = j.stageTasks.clone())).toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // job call sites are all "… at …"; the stage names carry the
    // query-source line of the action that materialized them
    val d = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val sites = e.stageInfos.map(_.name).distinct.mkString(" | ")
    started(e.jobId) = Job(e.jobId, (d + " " + sites).trim, e.time, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.reason == org.apache.spark.Success)
      stageToJob.get(e.stageId).flatMap(started.get).foreach { j =>
        val key = (e.stageId, e.stageAttemptId)
        val (n, ms) = j.stageTasks.getOrElse(key, (0, 0L))
        j.stageTasks(key) = (n + 1, ms + m.executorRunTime)
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1000000L
        j.gcMs += m.jvmGCTime
        j.deserMs += m.executorDeserializeTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
  }
}

object JobListener {
  /** One job: times in ms, sizes in bytes; `stageTasks` maps each (stage,
    * attempt) to its successful tasks and their summed run ms. */
  final case class Job(id: Int, desc: String, t0: Long, var t1: Long,
      var tasks: Int = 0, var runMs: Long = 0, var cpuMs: Long = 0,
      var gcMs: Long = 0, var deserMs: Long = 0, var shuffleRead: Long = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0,
      stageTasks: mutable.Map[(Int, Int), (Int, Long)] = mutable.Map.empty) {
    def wallMs: Long = t1 - t0
    def max1taskMs: Long =
      stageTasks.values.collect { case (1, ms) => ms }.maxOption.getOrElse(0L)
  }
}
