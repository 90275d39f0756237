package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: turn a pure interval/band theta-join into the scalable
  * bucketized form. Matched shapes (integral x from the left, y from the
  * right, literal widths):
  *
  *   - `abs(x − y) <= W`                      → band  y − x ∈ [−W, W]
  *   - `y >= x − W1 && y <= x + W2`           → band  y − x ∈ [−W1, W2]
  *     (any algebraic spelling with one ± literal offset per side, strict
  *     or non-strict — e.g. the attribution idiom
  *     `c.ts <= p.ts && c.ts >= p.ts − 1h`)
  *
  * Why: a join with no equi-conjunct plans as a broadcast nested loop (or
  * cartesian) — O(|A|·|B|) and impossible when both sides are large. The
  * rewrite quantizes both sides into span-width buckets (span = U − L),
  * explodes the left side into the ≤4 buckets its band can overlap,
  * EQUI-joins on the bucket (an ordinary shuffled join on a dense integer
  * key, AQE-skew-handled), and re-checks the ORIGINAL predicate verbatim as
  * an exact post-filter — so the rewrite can never widen the result.
  * (`join_range_interval` states this rewrite by hand; the rule generalizes
  * it to any query in every [[graft.LocalSession]].)
  *
  * Safety: fires only on INNER joins whose condition has no equi-conjunct
  * (those already hash-join). Bucket indexes are computed as
  * `floorDiv(v, span) + k` for rule-time-constant k, where floorDiv is the
  * overflow-free form (truncating div + negative-remainder correction — no
  * `v − pmod` or `v ± W` subtraction that could overflow near Long.MIN/MAX)
  * and the `+ k` probe arithmetic runs in LEGACY (wrapping) eval mode so
  * ANSI mode can never throw mid-probe. Wrapping is benign here: for any
  * pair actually satisfying the band, bucket(y) = bucket(x) + k fits in a
  * Long (it equals a valid bucket of the Long value y), so real matches
  * never wrap; a wrapped probe is a garbage bucket whose spurious
  * candidates the verbatim re-check of the original predicate rejects.
  * Null inputs produce a null bucket → the equi-condition evaluates null →
  * the row drops, identical to the original predicate's null semantics.
  */
object RewriteIntervalJoin extends Rule[LogicalPlan] {

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** All rewrite-introduced arithmetic evaluates in LEGACY (wrapping) mode:
    * the rewrite must never make a query throw that the original would not.
    */
  private val legacyEval = NumericEvalContext(EvalMode.LEGACY)

  /** Exact floor division for w >= 1, overflow-free on the FULL Long domain:
    * floorDiv(v, w) = (v div w) − (1 if v % w != 0 and v < 0 else 0).
    * IntegralDivide truncates toward zero; the correction lowers negative
    * non-exact quotients. No subtraction on `v` itself, so Long.MIN is safe
    * (the −1 correction at v div w = Long.MIN requires w = 1, where the
    * remainder is 0 and the correction is 0).
    */
  private def floorDiv(v: Expression, w: Expression): Expression =
    new Subtract(
      new IntegralDivide(v, w, legacyEval),
      If(And(Not(EqualTo(new Remainder(v, w, legacyEval), Literal(0L))),
          LessThan(v, Literal(0L))),
        Literal(1L), Literal(0L)),
      legacyEval)

  private def litLong(l: Literal): Option[Long] = l match {
    case Literal(w: Long, LongType)   => Some(w)
    case Literal(w: Int, IntegerType) => Some(w.toLong)
    case _                            => None
  }

  /** Decompose `e` as (base ± literal): returns (base, offset). */
  private def baseOffset(e: Expression): (Expression, Long) = e match {
    case Add(b, l: Literal, _) if litLong(l).isDefined => (b, litLong(l).get)
    case Add(l: Literal, b, _) if litLong(l).isDefined => (b, litLong(l).get)
    case Subtract(b, l: Literal, _) if litLong(l).isDefined => (b, -litLong(l).get)
    case other => (other, 0L)
  }

  /** One inequality conjunct → a band bound on (y − x) for x∈left, y∈right:
    * Some((x, y, isLower, v)) meaning y − x >= v (isLower) or y − x <= v.
    */
  private def boundOf(c: Expression, leftSet: AttributeSet,
      rightSet: AttributeSet): Option[(Expression, Expression, Boolean, Long)] = {
    // normalize to (lhs <= rhs, strictAdjust)
    val norm = c match {
      case LessThanOrEqual(a, b) => Some((a, b, 0L))
      case GreaterThanOrEqual(a, b) => Some((b, a, 0L))
      case LessThan(a, b) => Some((a, b, 1L)) // a < b ⇔ a <= b − 1 on integers
      case GreaterThan(a, b) => Some((b, a, 1L))
      case _ => None
    }
    norm.flatMap { case (lhs, rhs, strict) =>
      val (bl, ol) = baseOffset(lhs)
      val (br, or) = baseOffset(rhs)
      if (!integral(bl) || !integral(br) ||
          !bl.deterministic || !br.deterministic) None
      // y + ol <= x + or  ⇒  y − x <= or − ol (− strict)
      else if (bl.references.nonEmpty && bl.references.subsetOf(rightSet) &&
               br.references.nonEmpty && br.references.subsetOf(leftSet))
        Some((br, bl, false, or - ol - strict))
      // x + ol <= y + or  ⇒  y − x >= ol − or (+ strict)
      else if (bl.references.nonEmpty && bl.references.subsetOf(leftSet) &&
               br.references.nonEmpty && br.references.subsetOf(rightSet))
        Some((bl, br, true, ol - or + strict))
      else None
    }
  }

  /** Find a fully-bounded band (x, y, L, U) in the conjuncts. */
  private def findBand(conjuncts: Seq[Expression], leftSet: AttributeSet,
      rightSet: AttributeSet): Option[(Expression, Expression, Long, Long)] = {
    // the abs-distance shape is a symmetric band
    val fromAbs = conjuncts.collectFirst {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), l: Literal)
          if litLong(l).exists(_ > 0) && integral(x) && integral(y) &&
            x.deterministic && y.deterministic &&
            x.references.subsetOf(leftSet) && y.references.subsetOf(rightSet) =>
        (x, y, -litLong(l).get, litLong(l).get)
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), l: Literal)
          if litLong(l).exists(_ > 0) && integral(x) && integral(y) &&
            x.deterministic && y.deterministic &&
            y.references.subsetOf(leftSet) && x.references.subsetOf(rightSet) =>
        (y, x, -litLong(l).get, litLong(l).get)
    }
    if (fromAbs.isDefined) return fromAbs
    // otherwise pair a lower and an upper bound over the same (x, y)
    val bounds = conjuncts.flatMap(boundOf(_, leftSet, rightSet))
    val pairs = for {
      (x1, y1, true, lo) <- bounds
      (x2, y2, false, hi) <- bounds
      if x1.semanticEquals(x2) && y1.semanticEquals(y2) && hi - lo >= 1
    } yield (x1, y1, lo, hi)
    pairs.headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjuncts(cond)
      // EqualNullSafe counts too: ExtractEquiJoinKeys hash-joins on <=> just
      // like =, so firing the bucket rewrite over it would 3x-explode the
      // probe side of a join that needed no help (correct but strictly worse)
      val hasEqui = conjuncts.exists {
        case EqualTo(l, r) =>
          (l.references.subsetOf(left.outputSet) &&
            r.references.subsetOf(right.outputSet)) ||
          (r.references.subsetOf(left.outputSet) &&
            l.references.subsetOf(right.outputSet))
        case EqualNullSafe(l, r) =>
          (l.references.subsetOf(left.outputSet) &&
            r.references.subsetOf(right.outputSet)) ||
          (r.references.subsetOf(left.outputSet) &&
            l.references.subsetOf(right.outputSet))
        case _ => false
      }
      val band =
        if (hasEqui) None
        else findBand(conjuncts, left.outputSet, right.outputSet)
      band match {
        case Some((lx, ry, lo, hi)) =>
          val span = hi - lo // >= 1 guaranteed by findBand
          val w = Literal(span, LongType)
          val lv = asLong(lx)
          val rv = asLong(ry)
          // y ∈ [x+L, x+U] ⇒ bucket(y) ∈ [b + floorDiv(L,span),
          // b + floorDiv(U,span) + 1] where b = bucket(x): at most 4
          // consecutive buckets, offsets constant at rule time. The b ± k
          // probes wrap (LEGACY eval) instead of throwing near Long.MIN/MAX;
          // see the class doc for why wrapped probes cannot change results.
          val b = floorDiv(lv, w)
          val kLo = Math.floorDiv(lo, span)
          val kHi = Math.floorDiv(hi, span) + 1
          val buckets = CreateArray((kLo to kHi).map { k =>
            if (k == 0) b
            else if (k > 0) new Add(b, Literal(k, LongType), legacyEval)
            else new Subtract(b, Literal(-k, LongType), legacyEval)
          })
          val bucketL = AttributeReference("__graft_bucket", LongType)()
          val leftGen = Generate(Explode(buckets), unrequiredChildIndex = Nil,
            outer = false, qualifier = None,
            generatorOutput = Seq(bucketL), child = left)
          val bucketRAlias = Alias(floorDiv(rv, w), "__graft_bucket_r")()
          val rightProj = Project(right.output :+ bucketRAlias, right)
          val newCond = And(EqualTo(bucketL, bucketRAlias.toAttribute), cond)
          Project(j.output,
            Join(leftGen, rightProj, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
