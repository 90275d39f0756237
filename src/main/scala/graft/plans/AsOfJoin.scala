package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Native backward as-of join — the one reference-adjacent operator Spark's
  * DataFrame API genuinely lacks (SURVEY §2.4 "range/as-of"; the engine also
  * ships the union+window formulation in `join_asof` — this is the
  * whole-operator Catalyst route: LogicalPlan + Strategy + physical exec,
  * installed in every session by [[GraftExtensions]]).
  *
  * Semantics: for each left row, the single right row with the same key and
  * the greatest time STRICTLY less than the left time; ties on right time
  * resolved by the greatest tiebreak value. Inner (default): left rows with
  * no match drop. Left outer (`isLeftOuter`, pandas merge_asof's default
  * shape): unmatched left rows — including null-keyed/null-timed ones and
  * tolerance-stale ones — emit with a null-extended right side.
  *
  * Scale shape: both sides hash-partitioned on the key and sorted within
  * partitions — EnsureRequirements inserts the exchanges/sorts — then ONE
  * streaming merge pass per partition: O(n log n) total, O(1) state beyond
  * the current match, immune to per-key fan-out (the join+rank formulation
  * is quadratic per key).
  *
  * Types: any orderable key/time/tiebreak types (interpreted-ordering merge
  * path); long-backed key+time (LONG / TIMESTAMP / TIMESTAMP_NTZ) keep a
  * primitive getLong fast path — the hot registry shape — with zero boxing.
  * `tolerance` needs subtractable times, so it is limited to integral-backed
  * time types (long/timestamp/int/date/short), checked at construction.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Expression,
    tolerance: Option[Long] = None,
    isLeftOuter: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ (if (isLeftOuter) right.output.map(_.withNullability(true))
                    else right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Expression,
    tolerance: Option[Long] = None,
    isLeftOuter: Boolean = false) extends BinaryExecNode {

  require(DataType.equalsStructurally(leftKey.dataType, rightKey.dataType),
    s"as-of join key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(DataType.equalsStructurally(leftTime.dataType, rightTime.dataType),
    s"as-of join time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
  require(RowOrdering.isOrderable(leftKey.dataType) &&
    RowOrdering.isOrderable(leftTime.dataType) &&
    RowOrdering.isOrderable(rightTiebreak.dataType),
    "as-of join key/time/tiebreak types must be orderable")
  require(tolerance.isEmpty || AsOfJoinExec.delta(leftTime.dataType) != null,
    s"as-of tolerance needs an integral-backed time type, got ${leftTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ (if (isLeftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTiebreak, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = leftKey; val lTime = leftTime
    val rKey = rightKey; val rTime = rightTime
    val lOut = left.output; val rOut = right.output
    val outAttrs = output
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    // long-backed key+time (the registry's hot shape) run the zero-boxing
    // primitive loop; every other orderable type pair takes the
    // interpreted-ordering loop below — same merge, boxed comparisons.
    val fast = AsOfJoinExec.longBacked(keyType) && AsOfJoinExec.longBacked(timeType)
    val tol = tolerance
    val outer = isLeftOuter
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lProj = UnsafeProjection.create(Seq(lKey, lTime), lOut)
      val rProj = UnsafeProjection.create(Seq(rKey, rTime), rOut)
      // outer: the right-side INPUT attrs must read as nullable too — the
      // bound references take their null-check from the input schema, so
      // binding against the children's non-nullable attrs would compile
      // away isNullAt and read 0 from the all-null row
      val outProj = UnsafeProjection.create(outAttrs,
        lOut ++ (if (outer) rOut.map(_.withNullability(true)) else rOut))
      val joined = new JoinedRow
      // left-outer: unmatched left rows pair with an all-null right side
      val nullRight: InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rOut.length)
      def emitUnmatched(lRow: InternalRow): Iterator[InternalRow] =
        if (outer) Iterator.single(outProj(joined(lRow, nullRight)))
        else Iterator.empty
      if (fast) {
        // last right row seen with time < current left time, plus its key/time
        var lastMatch: UnsafeRow = null
        var lastMatchKey = 0L
        var lastMatchTime = 0L
        var rRow: InternalRow = null
        var rKeyV = 0L; var rTimeV = 0L
        // SQL semantics: a NULL key or time never matches — and getLong on a
        // null slot reads 0, which would ALSO break the merge's monotonicity
        // assumption (NULLS FIRST sorts null rows before every real value, so
        // their phantom 0s would arrive out of order). Null right rows are
        // skipped here; null left rows emit nothing below.
        def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val cand = rIter.next()
            val k = rProj(cand)
            if (!k.isNullAt(0) && !k.isNullAt(1)) {
              rRow = cand; rKeyV = k.getLong(0); rTimeV = k.getLong(1)
            }
          }
        }
        advanceRight()
        lIter.flatMap { lRow =>
          val k = lProj(lRow)
          if (k.isNullAt(0) || k.isNullAt(1)) emitUnmatched(lRow)
          else {
            val lKeyV = k.getLong(0); val lTimeV = k.getLong(1)
            // consume right rows strictly before (key, time); remember the last
            // one whose key matches — sort order makes it the max (time, tiebreak)
            while (rRow != null &&
                (rKeyV < lKeyV || (rKeyV == lKeyV && rTimeV < lTimeV))) {
              if (rKeyV == lKeyV) {
                lastMatch = rRow.asInstanceOf[UnsafeRow].copy()
                lastMatchKey = rKeyV
                lastMatchTime = rTimeV
              }
              advanceRight()
            }
            // the merge invariant guarantees lastMatchTime < lTimeV, so the
            // true delta is positive; raw Long subtraction can still wrap
            // negative for deltas > Long.MaxValue (e.g. the negated-time
            // forward composition near Long.Min/Max), and a wrapped delta
            // would silently pass `<= t` — the sign guard rejects it, which
            // is the mathematically correct verdict (true delta > any t)
            if (lastMatch != null && lastMatchKey == lKeyV &&
                tol.forall { t =>
                  val d = lTimeV - lastMatchTime; d >= 0L && d <= t
                })
              Iterator.single(outProj(joined(lRow, lastMatch)))
            else emitUnmatched(lRow)
          }
        }
      } else {
        val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
        val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
        val delta = AsOfJoinExec.delta(timeType) // null iff tolerance is empty
        var lastMatch: UnsafeRow = null
        var lastMatchKey: Any = null
        var lastMatchTime: Any = null
        var rRow: InternalRow = null
        var rKeyV: Any = null; var rTimeV: Any = null
        def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val cand = rIter.next()
            val k = rProj(cand)
            if (!k.isNullAt(0) && !k.isNullAt(1)) {
              rRow = cand
              // the projection reuses its row buffer across calls, and these
              // values outlive the call (UTF8String etc. point INTO the
              // buffer) — retain deep copies
              rKeyV = InternalRow.copyValue(k.get(0, keyType))
              rTimeV = InternalRow.copyValue(k.get(1, timeType))
            }
          }
        }
        advanceRight()
        lIter.flatMap { lRow =>
          val k = lProj(lRow)
          if (k.isNullAt(0) || k.isNullAt(1)) emitUnmatched(lRow)
          else {
            // consumed within this iteration, before the next lProj call —
            // no copy needed
            val lKeyV = k.get(0, keyType); val lTimeV = k.get(1, timeType)
            var kc = if (rRow == null) 0 else keyOrd.compare(rKeyV, lKeyV)
            while (rRow != null &&
                (kc < 0 || (kc == 0 && timeOrd.compare(rTimeV, lTimeV) < 0))) {
              if (kc == 0) {
                lastMatch = rRow.asInstanceOf[UnsafeRow].copy()
                lastMatchKey = rKeyV
                lastMatchTime = rTimeV
              }
              advanceRight()
              kc = if (rRow == null) 0 else keyOrd.compare(rKeyV, lKeyV)
            }
            // same overflow-wrap guard as the fast path: a negative delta can
            // only be a Long wrap (sort order makes the true delta positive)
            if (lastMatch != null && keyOrd.compare(lastMatchKey, lKeyV) == 0 &&
                tol.forall { t =>
                  val d = delta(lTimeV, lastMatchTime); d >= 0L && d <= t
                })
              Iterator.single(outProj(joined(lRow, lastMatch)))
            else emitUnmatched(lRow)
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinExec {
  /** Types whose InternalRow representation is a primitive long — the
    * zero-boxing merge path. */
  private[plans] def longBacked(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `a − b` in the time type's native integral unit (µs for timestamps,
    * days for dates), or null when the type has no integral backing — which
    * the constructor rejects whenever a tolerance is set.
    */
  private[plans] def delta(dt: DataType): (Any, Any) => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (a, b) => a.asInstanceOf[Long] - b.asInstanceOf[Long]
    case IntegerType | DateType =>
      (a, b) => a.asInstanceOf[Int].toLong - b.asInstanceOf[Int].toLong
    case ShortType =>
      (a, b) => (a.asInstanceOf[Short] - b.asInstanceOf[Short]).toLong
    case ByteType =>
      (a, b) => (a.asInstanceOf[Byte] - b.asInstanceOf[Byte]).toLong
    case _ => null
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKey, j.rightKey,
        j.leftTime, j.rightTime, j.rightTiebreak, j.tolerance, j.isLeftOuter) :: Nil
    case _ => Nil
  }
}

object AsOfJoinOps {
  /** DataFrame-level entry: backward as-of inner join of `left` to `right`
    * on any orderable key/time columns. The session plans the node with
    * [[AsOfJoinStrategy]], which [[GraftExtensions]] installs (as
    * [[graft.LocalSession]] does). `tolerance` (same unit as the time
    * columns) drops matches older than `leftTime − tolerance` — pandas
    * merge_asof's staleness bound, evaluated inside the merge pass at zero
    * extra cost.
    * `leftOuter = true` keeps unmatched left rows with a null-extended right
    * side (merge_asof's default join shape; inner is this API's default).
    */
  def asofJoin(spark: SparkSession, leftDf: DataFrame, rightDf: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column, rightTiebreak: Column,
      tolerance: Option[Long] = None,
      leftOuter: Boolean = false): DataFrame = {
    GraftSqlBridge.ofRows(spark, AsOfJoin(
      GraftSqlBridge.analyzedPlan(leftDf), GraftSqlBridge.analyzedPlan(rightDf),
      GraftSqlBridge.expression(leftKey), GraftSqlBridge.expression(rightKey),
      GraftSqlBridge.expression(leftTime), GraftSqlBridge.expression(rightTime),
      GraftSqlBridge.expression(rightTiebreak), tolerance, leftOuter))
  }
}
