package graft.ops

import java.util.concurrent.{ExecutionException, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** The run-local state store of one streaming store engine (the neardup
  * family, embdup, curate quota), with its appends PIPELINED: a
  * micro-batch hands its store appends to one writer thread and returns,
  * so the commit-bound writes (at sf0.1 ~0.7 s/batch of band + sig
  * appends) overlap the stream's next trigger and the next batch's
  * row-local work, instead of lengthening this batch.
  * [[StreamingQueries.storeStreamRun]] creates one per run and is the
  * only owner. Nothing in the batch that submitted a write reads it:
  * the batch's output is already written, and the next batch reaches the
  * store only through [[dir]].
  *
  * Contract (StreamingSpec "pipelined store" cases):
  *  - a store read never starts before the previous batch's writes are
  *    durable: [[dir]], the only way a batch body reaches a store table,
  *    waits for the last submitted write first (the write closure gets
  *    its paths from [[submit]] instead, so it never waits on itself);
  *  - a failed write rethrows, cause attached, at the next [[dir]] or
  *    [[await]], or at the end of the run; the run still deletes its dirs
  *    and stops the writer thread ([[close]]);
  *  - [[submit]] waits for the write before it, so a newer submit never
  *    drops an un-awaited write's failure;
  *  - the store and the stream checkpoint are created together per run
  *    and deleted with it, never reused across restarts: a micro-batch
  *    commits to the checkpoint BEFORE its appends are durable, which is
  *    safe only because no run ever resumes from that checkpoint (a
  *    restarted one would silently lose a committed batch's appends).
  *    [[begin]] enforces it: batch ids must run 0, 1, 2, … in one run;
  *  - writes are planned with [[partitions]], the batch parallelism
  *    captured at run start, as explicit repartition counts — never with
  *    the session conf the writer happens to see while the batch thread
  *    restores the stream sizing concurrently — so write plans and file
  *    layouts are the same on every run.
  */
private[graft] final class PipelinedStore(name: String, root: String,
    val partitions: Int) {
  private val writer = Executors.newSingleThreadExecutor(r =>
    new Thread(r, s"$name-storewrite"))
  private val pending = new AtomicReference[Future[_]]()
  private var nextBatch = 0L

  /** Start micro-batch `batchId`; refuses anything but the next id. */
  def begin(batchId: Long): Unit = {
    require(batchId == nextBatch, s"$name: micro-batch $batchId where " +
      s"$nextBatch was due — a store run never resumes from a checkpoint")
    nextBatch += 1
  }

  /** Path of store table `table` for a read or a listing, once every
    * submitted write is durable. */
  def dir(table: String): String = { await(); s"$root/$table" }

  /** Wait for the last submitted write; rethrow its failure. */
  def await(): Unit = {
    val f = pending.getAndSet(null)
    if (f != null) try f.get() catch {
      case e: ExecutionException => throw new IllegalStateException(
        s"$name: pipelined store write failed", e.getCause)
    }
  }

  /** Queue micro-batch `batchId`'s appends. `write` gets the table-path
    * function and must read only checkpointed frames, so it reads pinned
    * partitions, never a recompute racing the batch thread. */
  def submit(sp: SparkSession, batchId: Long)(
      write: (String => String) => Unit): Unit = {
    await()
    pending.set(writer.submit(new Runnable {
      override def run(): Unit = {
        // the writer inherited the STREAMING query's job group (thread
        // locals copy at thread creation): detach, or the engine's stop()
        // after the final batch cancels the in-flight write mid-commit
        // (measured: SPARK_JOB_CANCELLED on the last sig write)
        sp.sparkContext.setJobGroup(s"$name-storewrite",
          s"$name pipelined store write b=$batchId")
        write(t => s"$root/$t")
      }
    }))
  }

  /** Drain the writer (its error is dropped: a failing run is already
    * propagating one) and stop its thread. */
  def close(): Unit = {
    scala.util.Try(await())
    writer.shutdown()
    writer.awaitTermination(1, TimeUnit.MINUTES)
    ()
  }
}
