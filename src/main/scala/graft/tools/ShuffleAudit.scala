package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Shuffle auditor: runs each registry query and reports the bytes/records
  * actually shuffled and spilled (task-metric truth, not plan guesses).
  * The per-query shuffle volume is the number that predicts 100 TB behavior —
  * a query whose shuffle grows linearly with input is fine; one that
  * shuffles a joint blow-up is not.
  *
  * Also reports `max1taskS`: the largest executor run time of any stage
  * that executed as a SINGLE task. The driver fixtures are one parquet
  * file = one row group = ONE scan task, so row-local-heavy compute placed
  * before the first exchange silently runs single-threaded (the r8 trap,
  * found ad hoc in four queries) — this column sweeps the whole registry
  * for the rest. Tiny-dim scans (region/nation) legitimately run one fast
  * task; the flag threshold is time, not task count.
  * Usage: runMain graft.tools.ShuffleAudit <sfDir> [queryName ...]
  */
object ShuffleAudit {

  private val shuffleWrite = new AtomicLong
  private val shuffleRecords = new AtomicLong
  private val spill = new AtomicLong
  // (stageId, stageAttemptId) -> (successfulTasks, summed executorRunTime
  // ms); single-task stages surface as (1, thatTask'sRunTime). Keyed per
  // attempt and restricted to successful tasks so a retried or speculative
  // task can't make a single-task stage look multi-task (or fold failed-run
  // time into the sums).
  private val stageAgg =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), (Int, Long)]

  private object Listener extends SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null && te.reason == org.apache.spark.Success) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        spill.addAndGet(m.diskBytesSpilled)
        stageAgg.merge((te.stageId, te.stageAttemptId), (1, m.executorRunTime),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).toSet
    val spark = graft.LocalSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.addSparkListener(Listener)
    val rows = for (q <- graft.SparkEntry.registry
        if only.isEmpty || only(q.name)) yield {
      shuffleWrite.set(0); shuffleRecords.set(0); spill.set(0)
      stageAgg.clear()
      val ok = try { graft.SparkEntry.runToCompletion(q.fn(spark, sfDir)); true }
        catch { case _: Throwable => false }
      // listener events are queued; drain before reading the counters
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val maxSingleMs = stageAgg.values.asScala
        .collect { case (1, ms) => ms }.maxOption.getOrElse(0L)
      (q.name, ok, shuffleWrite.get, shuffleRecords.get, spill.get,
        maxSingleMs)
    }
    println(f"${"query"}%-28s ${"shuffleMB"}%10s ${"records"}%12s ${"spillMB"}%8s ${"max1taskS"}%10s")
    for ((name, ok, bytes, recs, sp, m1) <- rows.sortBy(-_._6)) {
      val flag = if (ok) "" else "  FAILED"
      println(f"$name%-28s ${bytes / 1e6}%10.1f $recs%12d ${sp / 1e6}%8.1f ${m1 / 1e3}%10.2f$flag")
    }
    spark.stop()
  }
}
