package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** The one driver for the engine's data-dependent fixpoint loops (k-core
  * peel, label propagation, PageRank, near-dup components). At every
  * tested scale a round is a KB-sized frame, so a loop's cost is the
  * per-round fixed overhead of the driver's jobs (~35 ms each), not compute.
  * The driver therefore pays each materialization once per TWO rounds:
  *
  *  - Round 1 stays lazy inside round 2's plan. The block is the union of
  *    both rounds' frames, each row tagged with its round, so round 1's
  *    state and metric columns land in the same checkpoint as round 2's
  *    (round 1's exchanges are reused by round 2 at runtime, as in
  *    `plans/r18/graph_pagerank_converge_fusedblock_executed.txt`).
  *  - Per block: ONE `localCheckpoint` and ONE O(1)-row aggregate, grouped
  *    by round, reading both rounds' convergence scalars.
  *  - Round accounting replays the one-round loop exactly: round 2 counts
  *    only if round 1 did not stop and the guard is not reached, so the loop
  *    stops on any round, odd or even, and ends with the state of the round
  *    it counted last (round 2 runs speculatively and is discarded unread
  *    when round 1 stops).
  *  - A block's checkpoint is freed as soon as the next block lands; only
  *    the checkpoint behind the returned frame stays pinned.
  *
  * Plan depth stays bounded at two rounds per block, so the loop needs no
  * lineage truncation beyond the block checkpoint.
  */
object FusedFixpoint {

  private val Round = "fixpoint_round"

  /** Runs `step` from `init` until `stop` holds for a round's `metric` or
    * `guard` rounds have run. Returns the last counted round's frame (the
    * columns `step` produced), the round count and that round's metric.
    *
    * `step` maps one round's frame to the next; it receives `init` first
    * and then its own output. `metric` is an aggregate over one round's
    * frame; over no rows, or if null, it reads as 0.
    */
  def apply(init: DataFrame, guard: Int, metric: Column,
      stop: Long => Boolean)(step: DataFrame => DataFrame)
      : (DataFrame, Long, Long) = {
    require(guard >= 1, s"guard must allow a round: $guard")
    var state = init
    var held: Option[DataFrame] = None
    var rounds = 0L
    var m = 0L
    var done = false
    while (!done) {
      val s1 = step(state)
      val block = s1.withColumn(Round, lit(1))
        .unionByName(step(s1).withColumn(Round, lit(2)))
        .localCheckpoint()
      val ms = block.groupBy(col(Round)).agg(metric.cast("long")).collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
        .toMap.withDefaultValue(0L)
      held.foreach(GraftSqlBridge.unpersistLocalCheckpoint)
      held = Some(block)
      val counted = if (stop(ms(1)) || rounds + 1 >= guard) 1 else 2
      rounds += counted
      m = ms(counted)
      state = block.filter(col(Round) === counted).drop(Round)
      done = counted == 1 || stop(m) || rounds >= guard
    }
    (state, rounds, m)
  }

  /** Materializes an iteration-invariant input once for `body` (the edge
    * list every round joins against) and frees it when `body` returns, so
    * what `body` returns must not read it lazily (a [[FusedFixpoint]]
    * result reads only its own block checkpoint). */
  def pinned[R](invariant: DataFrame)(body: DataFrame => R): R = {
    val p = invariant.localCheckpoint()
    try body(p) finally GraftSqlBridge.unpersistLocalCheckpoint(p)
  }
}
