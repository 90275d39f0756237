package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.FusedFixpoint

/** Pins the fused fixpoint driver's round accounting and eviction on a hand
  * "count-down" state: each round maps v to max(v − 1, 0) and its metric
  * is Σ(v − v'), so a state whose largest value is n moves for n rounds and
  * converges at round n + 1 — any round count, odd or even, is reachable by
  * choosing n, and the guard round's state is known in closed form.
  */
class FusedFixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def countDown(s: DataFrame): DataFrame = s.select(col("k"),
    greatest(col("v") - 1, lit(0L)).as("v"),
    (col("v") - greatest(col("v") - 1, lit(0L))).as("d"))

  private def run(vs: Seq[Long], guard: Int,
      seen: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.Buffer.empty) = {
    import spark.implicits._
    val init = vs.zipWithIndex.map { case (v, k) => (k.toLong, v) }.toDF("k", "v")
    FusedFixpoint(init, guard, sum(col("d")), _ == 0) { s =>
      seen += s
      countDown(s)
    }
  }

  private def values(df: DataFrame): Map[Long, Long] =
    df.select(col("k"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("converges on an odd round: the round-1 early exit") {
    val (state, rounds, m) = run(Seq(2L, 1L, 0L), guard = 40)
    assert(rounds === 3L)
    assert(m === 0L)
    assert(values(state) === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("converges on an even round: round 2 counts") {
    val (state, rounds, m) = run(Seq(3L, 1L), guard = 40)
    assert(rounds === 4L)
    assert(m === 0L)
    assert(values(state) === Map(0L -> 0L, 1L -> 0L))
  }

  test("guard exhaustion at an even guard returns the guard round's state") {
    val (state, rounds, m) = run(Seq(10L, 7L, 2L), guard = 4)
    assert(rounds === 4L)
    assert(m === 2L) // round 4 moved k0 and k1 only
    assert(values(state) === Map(0L -> 6L, 1L -> 3L, 2L -> 0L))
  }

  test("guard exhaustion at an odd guard returns the guard round's state") {
    val (state, rounds, m) = run(Seq(10L, 7L, 2L), guard = 5)
    assert(rounds === 5L)
    assert(m === 2L)
    assert(values(state) === Map(0L -> 5L, 1L -> 2L, 2L -> 0L))
  }

  test("every superseded block checkpoint is evicted, the returned one is not") {
    import org.apache.spark.sql.GraftSqlBridge.localCheckpointRddId
    val sc = spark.sparkContext
    val seen = scala.collection.mutable.Buffer.empty[DataFrame]
    val (state, rounds, _) = run(Seq(9L, 4L), guard = 40, seen)
    assert(rounds === 10L) // five blocks
    // round 1 of each block receives the previous block's frame, round 2
    // this block's lazy round 1, which reads that same checkpoint
    val kept = localCheckpointRddId(state).toSet
    val superseded = seen.flatMap(localCheckpointRddId).toSet -- kept
    assert(kept.size === 1 && kept.forall(sc.getPersistentRDDs.contains),
      "the returned frame should read one pinned block checkpoint")
    assert(superseded.size === 4, s"expected 4 earlier blocks: $superseded")
    val leaked = superseded.filter(sc.getPersistentRDDs.contains)
    assert(leaked.isEmpty, s"superseded checkpoints still pinned: rdd ids $leaked")
  }
}
