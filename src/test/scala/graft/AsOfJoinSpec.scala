package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{AsOfJoinExec, AsOfJoinOps}

/** Edge semantics of the native as-of operator that the oracle's bulk data
  * may not exercise: strict-before at equal times, tiebreak on equal right
  * times, unmatched-left drop, cross-partition correctness.
  */
class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)]) = {
    // (id, key, time)
    val l = left.toDF("lid", "lkey", "ltime").repartition(3)
    val r = right.toDF("rid", "rkey", "rtime").repartition(2)
    AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
  }

  test("matches the latest strictly-earlier right row per key") {
    val got = run(
      left = Seq((1L, 7L, 100L), (2L, 7L, 200L), (3L, 8L, 100L)),
      right = Seq((10L, 7L, 50L), (11L, 7L, 150L), (12L, 8L, 99L)))
    assert(got === Set((1L, 10L), (2L, 11L), (3L, 12L)))
  }

  test("right rows at exactly the left time are excluded (strictly before)") {
    val got = run(
      left = Seq((1L, 7L, 100L)),
      right = Seq((10L, 7L, 100L), (11L, 7L, 99L)))
    assert(got === Set((1L, 11L)))
  }

  test("ties on right time resolve to the greatest tiebreak id") {
    val got = run(
      left = Seq((1L, 7L, 100L)),
      right = Seq((10L, 7L, 50L), (13L, 7L, 50L), (11L, 7L, 50L)))
    assert(got === Set((1L, 13L)))
  }

  test("left rows with no earlier right row drop (inner semantics)") {
    val got = run(
      left = Seq((1L, 7L, 100L), (2L, 9L, 100L)),
      right = Seq((10L, 7L, 150L), (11L, 8L, 50L)))
    assert(got === Set.empty[(Long, Long)])
  }

  test("tolerance bound: match at exactly tolerance kept, one past dropped") {
    val l = Seq((1L, 7L, 100L), (2L, 7L, 300L)).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, 70L), (11L, 7L, 260L)).toDF("rid", "rkey", "rtime")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"),
        tolerance = Some(30L))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    // lid=1: latest prior is rid=10 at gap 30 == tolerance → kept (inclusive);
    // lid=2: latest prior is rid=11 at gap 40 > tolerance → dropped, and it
    // must NOT fall back to an older in-tolerance... (none exists) nor older rows
    assert(got === Set((1L, 10L)))
  }

  test("tolerance drops stale matches without re-matching to older rows") {
    // the latest prior row is stale; an OLDER row would be within tolerance
    // of nothing — semantics are "latest match or nothing", not "latest
    // within tolerance" (pandas merge_asof semantics)
    val l = Seq((1L, 7L, 100L)).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, 10L), (11L, 7L, 60L)).toDF("rid", "rkey", "rtime")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"),
        tolerance = Some(20L))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got === Set.empty[(Long, Long)]) // rid=11 stale (gap 40), rid=10 ignored
  }

  test("physical plan uses AsOfJoinExec, not window machinery") {
    val l = Seq((1L, 7L, 100L)).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, 50L)).toDF("rid", "rkey", "rtime")
    val df = AsOfJoinOps.asofJoin(spark, l, r,
      l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
    val plan = df.queryExecution.executedPlan
    def find(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.isInstanceOf[AsOfJoinExec] || p.children.exists(find) ||
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => find(a.executedPlan)
          case _ => false
        })
    assert(find(plan), s"AsOfJoinExec not found in:\n$plan")
    assert(!plan.toString.contains("Window"))
  }

  test("left-only filters push below the as-of join; right-side filters stay above") {
    import graft.plans.{AsOfJoin, PushLeftFilterThroughAsOfJoin}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // RDD-backed inputs: the rule runs in the operator-optimization batch,
    // and a filter pushed onto a LocalRelation is evaluated away by
    // ConvertToLocalRelation, leaving no Filter node to find
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType}
    def rdd(rows: Seq[(Long, Long, Long)], cols: String*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2, t._3))),
        cols.foldLeft(new StructType)(_.add(_, LongType)))
    val l = rdd(Seq((1L, 7L, 100L), (2L, 7L, 200L)), "lid", "lkey", "ltime")
    val r = rdd(Seq((10L, 7L, 50L), (11L, 7L, 150L)), "rid", "rkey", "rtime")
    val joined = AsOfJoinOps.asofJoin(spark, l, r,
      l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
    val filtered = joined.filter($"lid" === 2L && $"rid" > 5L)
    val opt = filtered.queryExecution.optimizedPlan
    // the left conjunct must sit BELOW the AsOfJoin after optimization
    val pushedBelow = opt.collect {
      case j: AsOfJoin => j.left.collect { case f: LFilter => f }
    }.flatten
    assert(pushedBelow.exists(_.condition.toString.contains("lid")),
      s"left filter not pushed below:\n$opt")
    // right-side conjunct must NOT be below the join (it would change matching)
    assert(!opt.collect { case j: AsOfJoin => j.right.collect { case f: LFilter => f } }
      .flatten.exists(_.condition.toString.contains("rid")))
    // and results are correct
    assert(filtered.select($"lid", $"rid").as[(Long, Long)].collect().toSet ===
      Set((2L, 11L)))
  }

  test("over LocalRelation inputs the left filter leaves the plan above the as-of join") {
    import graft.plans.AsOfJoin
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan}
    // the shape most callers build: Seq.toDF. The pushed filter is folded
    // into the LocalRelation, so the check is on what stays above the join
    val l = Seq((1L, 7L, 100L), (2L, 7L, 200L)).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, 50L), (11L, 7L, 150L)).toDF("rid", "rkey", "rtime")
    val filtered = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
      .filter($"lid" === 2L && $"rid" > 5L)
    val opt = filtered.queryExecution.optimizedPlan
    def conditionsAbove(p: LogicalPlan): Seq[String] = p match {
      case _: AsOfJoin => Nil
      case f: LFilter => f.condition.toString +: conditionsAbove(f.child)
      case o => o.children.flatMap(conditionsAbove)
    }
    val above = conditionsAbove(opt)
    assert(opt.collect { case j: AsOfJoin => j }.nonEmpty, s"no AsOfJoin in:\n$opt")
    assert(!above.exists(_.contains("lid")), s"left filter still above:\n$opt")
    assert(above.exists(_.contains("rid")), s"right filter not above:\n$opt")
    assert(filtered.select($"lid", $"rid").as[(Long, Long)].collect().toSet ===
      Set((2L, 11L)))
  }

  test("timestamp-typed time columns ride the long-backed fast path correctly") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val l = Seq((1L, 7L, ts("2024-01-01 00:00:10")),
        (2L, 7L, ts("2024-01-01 00:00:20")),
        (3L, 8L, ts("2024-01-01 00:00:10"))).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, ts("2024-01-01 00:00:05")),
        (11L, 7L, ts("2024-01-01 00:00:15")),
        (12L, 8L, ts("2024-01-01 00:00:10"))).toDF("rid", "rkey", "rtime")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    // lid=3 drops: rid=12 is at EXACTLY the left time (strictly-before holds
    // for timestamps too)
    assert(got === Set((1L, 10L), (2L, 11L)))
  }

  test("timestamp tolerance is measured in microseconds") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val l = Seq((1L, 7L, ts("2024-01-01 00:00:10"))).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, ts("2024-01-01 00:00:04"))).toDF("rid", "rkey", "rtime")
    def run(tolUs: Long) = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"),
        tolerance = Some(tolUs))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(run(6000000L) === Set((1L, 10L))) // gap == 6 s exactly, inclusive
    assert(run(5999999L) === Set.empty[(Long, Long)])
  }

  test("string keys take the interpreted-ordering path and match per key") {
    val l = Seq((1L, "alpha", 100L), (2L, "beta", 200L), (3L, "alpha", 50L))
      .toDF("lid", "lkey", "ltime").repartition(3)
    val r = Seq((10L, "alpha", 90L), (11L, "beta", 150L), (12L, "alpha", 40L),
        (13L, "gamma", 10L))
      .toDF("rid", "rkey", "rtime").repartition(2)
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 10L), (2L, 11L), (3L, 12L)))
  }

  test("date-typed time uses day-granular tolerance on the generic path") {
    import java.sql.Date
    val l = Seq((1L, 7L, Date.valueOf("2024-03-10")),
        (2L, 7L, Date.valueOf("2024-03-20"))).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, Date.valueOf("2024-03-07")),
        (11L, 7L, Date.valueOf("2024-03-12"))).toDF("rid", "rkey", "rtime")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"),
        tolerance = Some(3L)) // days
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    // lid=1 ← rid=10 at gap 3 days (inclusive); lid=2's latest prior rid=11
    // is 8 days stale → drops without falling back
    assert(got === Set((1L, 10L)))
  }

  test("tolerance with a non-integral time type is rejected at construction") {
    val l = Seq((1L, 7L, "t100")).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, "t050")).toDF("rid", "rkey", "rtime")
    val ex = intercept[Throwable] {
      AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"),
        tolerance = Some(5L)).collect()
    }
    assert(ex.getMessage.contains("integral-backed"),
      s"unexpected error: ${ex.getMessage}")
  }

  test("mismatched key types across sides are rejected at construction") {
    val l = Seq((1L, "7", 100L)).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, 50L)).toDF("rid", "rkey", "rtime")
    val ex = intercept[Throwable] {
      AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid")).collect()
    }
    assert(ex.getMessage.contains("key types differ"),
      s"unexpected error: ${ex.getMessage}")
  }

  test("left outer: unmatched, null-keyed, and tolerance-stale lefts survive with null right") {
    val l = Seq((1L, Some(7L), 100L), (2L, Some(9L), 100L), (3L, None, 100L),
        (4L, Some(7L), 500L))
      .toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, 50L), (11L, 8L, 50L)).toDF("rid", "rkey", "rtime")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"),
        tolerance = Some(100L), leftOuter = true)
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().toSet
    // lid=1 matches rid=10 (gap 50 ≤ tol); lid=2 has no key-9 rows;
    // lid=3 has a NULL key (never matches, but left-outer keeps it);
    // lid=4's latest prior is stale (gap 450 > 100) → kept with null right
    assert(got === Set((1L, Some(10L)), (2L, None), (3L, None), (4L, None)))
  }

  test("left outer on the generic (string-key) path keeps unmatched lefts") {
    val l = Seq((1L, "alpha", 100L), (2L, "omega", 100L))
      .toDF("lid", "lkey", "ltime").repartition(2)
    val r = Seq((10L, "alpha", 90L)).toDF("rid", "rkey", "rtime")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"),
        leftOuter = true)
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().toSet
    assert(got === Set((1L, Some(10L)), (2L, None)))
  }

  test("left outer marks right-side columns nullable in the output schema") {
    val l = Seq((1L, 7L, 100L)).toDF("lid", "lkey", "ltime")
    val r = Seq((10L, 7L, 50L)).toDF("rid", "rkey", "rtime")
    val inner = AsOfJoinOps.asofJoin(spark, l, r,
      l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
    val outer = AsOfJoinOps.asofJoin(spark, l, r,
      l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"), leftOuter = true)
    assert(!inner.schema("rid").nullable)
    assert(outer.schema("rid").nullable)
    assert(!outer.schema("lid").nullable)
  }

  test("property: left-outer row count equals the left side's row count") {
    // backward as-of with ≤1 match per left row ⇒ left outer is a function
    // of the left table: exactly one output row per left row
    val rng = new scala.util.Random(31)
    val left = (0 until 400).map(i => (i.toLong, rng.nextInt(20).toLong, rng.nextInt(1000).toLong))
    val right = (0 until 600).map(i => (1000L + i, rng.nextInt(25).toLong, rng.nextInt(1000).toLong))
    val l = left.toDF("lid", "lkey", "ltime").repartition(3)
    val r = right.toDF("rid", "rkey", "rtime").repartition(2)
    val out = AsOfJoinOps.asofJoin(spark, l, r,
      l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"), leftOuter = true)
    assert(out.count() === 400L)
    // and the matched subset agrees with the inner join
    val inner = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val matched = out.filter($"rid".isNotNull)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(matched === inner)
  }

  test("property: string-keyed as-of agrees with a reference computation") {
    val rng = new scala.util.Random(23)
    val left = (0 until 500).map(i =>
      (i.toLong, s"key_${rng.nextInt(20)}", rng.nextInt(1000).toLong))
    val right = (0 until 800).map(i =>
      (1000L + i, s"key_${rng.nextInt(20)}", rng.nextInt(1000).toLong))
    val expected = left.flatMap { case (lid, k, lt) =>
      val cands = right.filter(r => r._2 == k && r._3 < lt)
      if (cands.isEmpty) None
      else Some((lid, cands.maxBy(r => (r._3, r._1))._1))
    }.toSet
    val l = left.toDF("lid", "lkey", "ltime").repartition(3)
    val r = right.toDF("rid", "rkey", "rtime").repartition(2)
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("ltime"), r("rtime"), r("rid"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("property: forward direction composes from the backward exec via negation") {
    // join_asof_forward's construction: negate both time columns (greatest
    // -rt < -lt ⟺ smallest rt > lt) and negate the tiebreak so ties resolve
    // to the SMALLEST right id. Checked against a direct reference
    // computation of "earliest strictly-after, ties to smallest rid".
    val rng = new scala.util.Random(42)
    val left = (0 until 400).map(i => (i.toLong, rng.nextInt(15).toLong, rng.nextInt(500).toLong))
    val right = (0 until 600).map(i => (1000L + i, rng.nextInt(15).toLong, rng.nextInt(500).toLong))
    val expected = left.flatMap { case (lid, k, lt) =>
      val cands = right.filter(r => r._2 == k && r._3 > lt)
      if (cands.isEmpty) None
      else Some((lid, cands.minBy(r => (r._3, r._1))._1))
    }.toSet
    val l = left.toDF("lid", "lkey", "ltime").repartition(3)
      .withColumn("neg_lt", -$"ltime")
    val r = right.toDF("rid", "rkey", "rtime").repartition(2)
      .withColumn("neg_rt", -$"rtime").withColumn("neg_rid", -$"rid")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("neg_lt"), r("neg_rt"), r("neg_rid"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("allow_exact_matches composes from the strict exec via a +1 time shift") {
    // The exec is strictly-before by design (rt < lt). pandas' default
    // allow_exact_matches=True (rt <= lt) composes for integral times as
    // rt < lt + 1 — shift the LEFT time up by one tick. Equal-time rows
    // must now match; strictly-later rows must still not.
    val l = Seq((1L, 7L, 100L), (2L, 7L, 50L)).toDF("lid", "lkey", "ltime")
      .withColumn("lt1", $"ltime" + 1L)
    val r = Seq((10L, 7L, 100L), (11L, 7L, 99L), (12L, 7L, 51L))
      .toDF("rid", "rkey", "rtime")
    val got = AsOfJoinOps.asofJoin(spark, l, r,
        l("lkey"), r("rkey"), l("lt1"), r("rtime"), r("rid"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    // lid=1 at t=100: rid=10 (equal time) now matches, beating rid=11 at 99.
    // lid=2 at t=50: rid=12 at 51 is strictly later — still excluded, no match.
    assert(got === Set((1L, 10L)))
  }

  test("property: nearest direction composes as best-of(backward, forward)") {
    // join_asof_nearest_native's construction: backward and forward outer
    // passes, then keep the smaller |gap| (tie → backward/earlier) under a
    // tolerance, inner-style. The closest right row overall is the closest
    // row in its own direction, so the composition is exact; each
    // direction's same-time ties follow its exec tiebreak (backward →
    // largest rid, forward → smallest rid). Checked against a direct
    // reference computation of exactly those semantics.
    import org.apache.spark.sql.functions.{col, when}
    val rng = new scala.util.Random(7)
    val left = (0 until 400).map(i => (i.toLong, rng.nextInt(12).toLong, rng.nextInt(300).toLong))
    val right = (0 until 600).map(i => (1000L + i, rng.nextInt(12).toLong, rng.nextInt(300).toLong))
    val tol = 40L
    val expected = left.flatMap { case (lid, k, lt) =>
      val back = right.filter(r => r._2 == k && r._3 < lt)
        .sortBy(r => (-r._3, -r._1)).headOption
      val fwd = right.filter(r => r._2 == k && r._3 > lt)
        .sortBy(r => (r._3, r._1)).headOption
      val pick = (back, fwd) match {
        case (Some(b), Some(f)) => if (lt - b._3 <= f._3 - lt) Some(b) else Some(f)
        case (b, f) => b.orElse(f)
      }
      pick.filter(r => math.abs(r._3 - lt) <= tol).map(r => (lid, r._1))
    }.toSet
    val lb = left.toDF("lid", "lkey", "ltime").repartition(3)
    val rb = right.toDF("rid", "rkey", "rtime").repartition(2)
    val b = AsOfJoinOps.asofJoin(spark, lb, rb,
        lb("lkey"), rb("rkey"), lb("ltime"), rb("rtime"), rb("rid"),
        leftOuter = true)
      .select($"lid", $"rid".as("b_rid"), ($"ltime" - $"rtime").as("b_gap"))
    val lf = left.toDF("lid", "lkey", "ltime").repartition(3)
      .withColumn("neg_lt", -$"ltime")
    val rf = right.toDF("rid", "rkey", "rtime").repartition(2)
      .withColumn("neg_rt", -$"rtime").withColumn("neg_rid", -$"rid")
    val f = AsOfJoinOps.asofJoin(spark, lf, rf,
        lf("lkey"), rf("rkey"), lf("neg_lt"), rf("neg_rt"), rf("neg_rid"),
        leftOuter = true)
      .select($"lid".as("f_lid"), $"rid".as("f_rid"),
        ($"rtime" - $"ltime").as("f_gap"))
    val useB = col("b_rid").isNotNull &&
      (col("f_rid").isNull || col("b_gap") <= col("f_gap"))
    val got = b.join(f, col("lid") === col("f_lid"))
      .withColumn("pick", when(useB, col("b_rid")).otherwise(col("f_rid")))
      .withColumn("abs_gap", when(useB, col("b_gap")).otherwise(col("f_gap")))
      .filter(col("pick").isNotNull && col("abs_gap") <= tol)
      .select($"lid", $"pick").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("many keys across many partitions agree with a reference computation") {
    val rng = new scala.util.Random(11)
    val left = (0 until 500).map(i => (i.toLong, rng.nextInt(20).toLong, rng.nextInt(1000).toLong))
    val right = (0 until 800).map(i => (1000L + i, rng.nextInt(20).toLong, rng.nextInt(1000).toLong))
    val expected = left.flatMap { case (lid, k, lt) =>
      val cands = right.filter(r => r._2 == k && r._3 < lt)
      if (cands.isEmpty) None
      else {
        val best = cands.maxBy(r => (r._3, r._1))
        Some((lid, best._1))
      }
    }.toSet
    assert(run(left, right) === expected)
  }
}
