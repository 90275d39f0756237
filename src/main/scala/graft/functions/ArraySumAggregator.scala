package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Element-wise sum of equal-length `Array[Long]` rows — the typed
  * Aggregator behind the Gram-matrix build (`VectorQueries.gramUpper`).
  *
  * Why an Aggregator and not explode+groupBy: summing the d(d+1)/2
  * upper-triangle products per VECTOR keeps the aggregate input at one
  * array row per vector instead of 2 080 exploded rows per vector
  * (4.16 M rows at sf0.1) — measured 2.2× faster on the same plan, 5×
  * combined with parallelizing the single-file scan (r8 A/B, EQUAL on
  * every cell; BASELINE.md "Vector-query optimization"). Each task folds
  * its rows into one 2 080-long buffer, so the shuffle is
  * `numPartitions × d(d+1)/2` longs regardless of corpus size — the same map-side-combine bound the explode shape had,
  * with far less per-row aggregate bookkeeping.
  *
  * Exactness: pure Long addition, associative and commutative, so
  * partial/merge order cannot change the result (unlike float sums).
  * The zero buffer is the empty array; the first row is cloned (never
  * mutated in place — Spark may reuse the input buffer).
  */
object ArraySumAggregator
    extends Aggregator[Array[Long], Array[Long], Array[Long]] {
  def zero: Array[Long] = Array.empty[Long]
  // ragged inputs must fail LOUDLY: depending on arrival order they would
  // otherwise either throw an opaque AIOOBE deep in codegen or silently
  // truncate longer rows' tails — a wrong Gram matrix with no error
  private def requireSameLength(a: Int, b: Int): Unit =
    if (a != b) throw new IllegalArgumentException(
      s"array_sum: element arrays differ in length ($a vs $b)")
  def reduce(b: Array[Long], a: Array[Long]): Array[Long] =
    if (b.isEmpty) a.clone
    else {
      requireSameLength(b.length, a.length)
      var i = 0; while (i < b.length) { b(i) += a(i); i += 1 }; b
    }
  def merge(x: Array[Long], y: Array[Long]): Array[Long] =
    if (x.isEmpty) y else if (y.isEmpty) x
    else {
      requireSameLength(x.length, y.length)
      var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x
    }
  def finish(r: Array[Long]): Array[Long] = r
  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
