package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Timestamps below are epoch milliseconds, the scheduler's own clock. */
final case class JobRec(id: Int, tag: String, start: Long, end: Long, stageIds: Seq[Int])

final class StageAgg {
  var tasks, runMs, gcMs, deserMs, fetchWaitMs = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill, inBytes, inRecords, outBytes = 0L
  var submitted, completed = 0L
}

final case class ExecRec(start: Long, end: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, ok: Boolean)

final case class StreamRec(runId: String, name: String, start: Long, end: Long)

final case class BatchRec(runId: String, batchId: Long, start: Long,
    triggerMs: Long, addBatchMs: Long, planningMs: Long, walMs: Long,
    inputRows: Long, stateRows: Long, stateCommitMs: Long)

/** The traced run's recorder: Spark's public scheduler, SQL-execution and
  * streaming listener interfaces, keeping every event in memory until the run
  * ends. Jobs carry the tag that the harness sets as a thread-local property
  * before each query (inherited by the threads a streaming query starts).
  */
final class Probe(spark: SparkSession) {
  import Probe._

  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (String, Long, Seq[Int])]
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.Map.empty[Int, StageAgg]
  val execs = ArrayBuffer.empty[ExecRec]
  val streams = ArrayBuffer.empty[StreamRec]
  val batches = ArrayBuffer.empty[BatchRec]
  private val streamStarts = scala.collection.mutable.Map.empty[String, (String, Long)]
  private val markersSeen = new AtomicInteger(0)
  private val markersSent = new AtomicInteger(0)
  private val streamsOpen = new AtomicInteger(0)

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      jobStarts(e.jobId) = (tag, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (tag, start, stageIds) =>
        if (tag.startsWith(MarkerPrefix)) {
          stageIds.foreach(stages.remove)
          // the queue is FIFO: every event posted before the marker is in
          markersSeen.accumulateAndGet(tag.stripPrefix(MarkerPrefix).toInt, (a, b) => math.max(a, b))
        } else jobs += JobRec(e.jobId, tag, start, e.time, stageIds)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stage(e.stageInfo.stageId).submitted = e.stageInfo.submissionTime.getOrElse(0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stage(e.stageInfo.stageId).completed = e.stageInfo.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stage(e.stageId)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val sql = new QueryExecutionListener {
    private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (phases.isEmpty) System.currentTimeMillis - durationNs / 1000000
        else phases.values.map(_.startTimeMs).min
      lock.synchronized {
        execs += ExecRec(start, start + durationNs / 1000000, ms("analysis"),
          ms("optimization"), ms("planning"), ok)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L, ok = false)
  }

  private val streaming = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      streamsOpen.incrementAndGet()
      lock.synchronized {
        streamStarts(e.runId.toString) = (Option(e.name).getOrElse(""), System.currentTimeMillis)
      }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      lock.synchronized {
        batches += BatchRec(p.runId.toString, p.batchId,
          Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution"),
          d("addBatch"), d("queryPlanning"), d("walCommit"), p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      lock.synchronized {
        streamStarts.remove(e.runId.toString).foreach { case (name, start) =>
          streams += StreamRec(e.runId.toString, name, start, System.currentTimeMillis)
        }
      }
      streamsOpen.decrementAndGet()
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(sql)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(scheduler)
    spark.listenerManager.unregister(sql)
    spark.streams.removeListener(streaming)
  }

  /** Block until every event posted so far has reached the recorder: a tagged
    * marker job travels the same FIFO queue as the jobs and SQL executions
    * before it, and every streaming query started has reported termination.
    */
  def drain(): Unit = {
    val n = markersSent.incrementAndGet()
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, s"$MarkerPrefix$n")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(TagKey, prev)
    val deadline = System.currentTimeMillis + 30000
    while ((markersSeen.get < n || streamsOpen.get > 0) &&
        System.currentTimeMillis < deadline) Thread.sleep(2)
  }

  def snapshot[T](f: => T): T = lock.synchronized(f)
}

object Probe {
  val TagKey = "perfbench.span"
  val MarkerPrefix = "marker:"
}
