package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the FIXPOINT property of the convergence-driven graph twins —
  * the loop-exit condition must actually mean "stable", not merely "the
  * counter ran out":
  *
  *  - k-core: after the peel loop exits, every node of the induced edge
  *    set still has degree ≥ k, and the keep set equals the edge set's
  *    node set exactly (count equality in a nested chain ⇒ set equality,
  *    the invariant the loop's O(1) convergence scalar relies on).
  *  - label propagation: one EXTRA synchronous superstep over the
  *    converged labels moves nothing, and the fixpoint is the component
  *    structure — every edge connects equal labels, and each label is
  *    the minimum node id of its member set.
  */
class GraphConvergenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("kcore peel exits at a true fixpoint: min degree >= k, keep == nodes") {
    val (e, keep, rounds) = graft.ops.RelationalQueries2
      .kcoreConvergeState(spark, sfDir)
    assert(rounds >= 1 && rounds < 16, s"guard hit or no round ran: $rounds")
    val minDeg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(min(col("d"))).collect()
    // an empty core (everything peeled) is a valid fixpoint; otherwise the
    // surviving degrees must all clear the threshold
    if (minDeg.nonEmpty && !minDeg.head.isNullAt(0))
      assert(minDeg.head.getLong(0) >= 2L,
        s"converged core has degree-<2 node: min=${minDeg.head.getLong(0)}")
    val nodesInE = e.select(col("u")).distinct().count()
    assert(keep.count() === nodesInE,
      "keep set diverged from the induced edge set's nodes at the fixpoint")
  }

  test("label propagation exits at a true fixpoint: an extra step moves nothing") {
    val (labels, adj, rounds) = graft.ops.RelationalQueries2
      .labelPropConvergeState(spark, sfDir)
    assert(rounds >= 1 && rounds < 40, s"guard hit or no round ran: $rounds")
    val extra = graft.ops.RelationalQueries2.labelPropStep(adj, labels)
    val moved = extra.agg(coalesce(sum(col("moved")), lit(0L)))
      .first().getLong(0)
    assert(moved === 0L, s"extra superstep still moved $moved labels")
    // fixpoint structure: labels are constant across every edge...
    val crossEdges = adj
      .join(labels.withColumnRenamed("node", "u")
        .withColumnRenamed("lbl", "lu"), Seq("u"))
      .join(labels.withColumnRenamed("node", "v")
        .withColumnRenamed("lbl", "lv"), Seq("v"))
      .filter(col("lu") =!= col("lv")).count()
    assert(crossEdges === 0L, s"$crossEdges edges cross label boundaries")
    // ...and each label is the minimum member id of its group
    val badMin = labels.groupBy(col("lbl")).agg(min(col("node")).as("m"))
      .filter(col("m") =!= col("lbl")).count()
    assert(badMin === 0L, s"$badMin labels are not their group's min id")
  }

  test("kcore peel is MAXIMAL: hand graph with a known 2-core, not a sub-core") {
    import spark.implicits._
    // two 3-cliques {1,2,3} and {4,5,6} joined by the path 3-7-4, plus a
    // pendant 7-8. The maximal 2-core is {1..7} (node 7's degree stays 2
    // after the pendant 8 is peeled): a correct peel removes ONLY 8 and
    // stops. The fixpoint assertion alone (min degree >= k) cannot catch
    // an over-aggressive peel that also drops 7 and lands at the two bare
    // triangles — a smaller, still-valid fixpoint; this exact-equality
    // gate can.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 7L), (7L, 4L), (7L, 8L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val (e, keep, rounds) = graft.ops.RelationalQueries2.kcorePeelLoop(edges)
    val kept = keep.collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      s"peel did not land at the maximal 2-core: kept $kept")
    assert(e.count() === 16L, // 8 undirected surviving edges, both directions
      s"induced core has ${e.count() / 2} undirected edges, expected 8")
    // round 1 peels the pendant, round 2 confirms the fixpoint
    assert(rounds === 2L, s"expected 2 rounds, got $rounds")
  }

  test("kcore peel counts a keep node stranded by its neighbours' peel") {
    import spark.implicits._
    // triangle {1,2,3} plus the path 5-4-6. Round 1 peels the leaves 5 and
    // 6; node 4 had degree 2, so it is in keep_1 but has no edge left.
    // Round 2 drops it from the keep set without dropping an edge, and only
    // round 3 repeats the keep count: the oracle's |keep_i| == |keep_(i-1)|
    // rule says 3 rounds, not 2
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (4L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val (e, keep, rounds) = graft.ops.RelationalQueries2.kcorePeelLoop(edges)
    assert(keep.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(e.count() === 6L, "expected the triangle's 6 directed edges")
    assert(rounds === 3L, s"expected 3 rounds, got $rounds")
  }

  test("pagerank fused loop: odd-round convergence takes the round-1 early exit") {
    import spark.implicits._
    // a triangle is 2-regular, so the recurrence is a fixpoint at round 1:
    // every rank stays 10000 (contrib sum = 2·(10000 div 2), rank' = 1500 +
    // 85·10000 div 100 = 10000), L1 = 0 < eps — rounds must read 1, an ODD
    // count, which the r17 two-rounds-per-materialization loop serves from
    // the carried round-1 columns of the fused checkpoint (the early-exit
    // arm a trajectory that always converges on an even round never runs).
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val (ranks, rounds, l1) = graft.ops.RelationalQueries2.pagerankLoop(edges)
    assert(rounds === 1L, s"triangle should converge at round 1, got $rounds")
    assert(l1 === 0L, s"triangle round-1 L1 should be 0, got $l1")
    val got = ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 10000L, 2L -> 10000L, 3L -> 10000L),
      s"triangle ranks should stay uniform 10000, got $got")
  }

  test("labelprop fused loop: odd-round convergence takes the superstep-1 early exit") {
    import spark.implicits._
    // path 1-2-3: min-label propagation needs max-BFS-dist-from-min + 1 =
    // 3 supersteps (labels move in rounds 1 and 2; round 3 confirms) — an
    // ODD count, served from the carried superstep-1 columns of the second
    // fused block's checkpoint.
    val und = Seq((1L, 2L), (2L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val (labels, _, rounds) =
      graft.ops.RelationalQueries2.labelPropLoop(edges)
    assert(rounds === 3L, s"path 1-2-3 should converge in 3 rounds, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"all labels should collapse to 1, got $got")
  }

  test("pagerank converge matches a driver-side integer reference on a hand graph") {
    import spark.implicits._
    // asymmetric-degree hand graph: path 1-2-3-4 plus the chord 2-4. The
    // unrolled SQL oracle restates the distributed recurrence, so this
    // reference re-implements it independently (plain Scala Longs, same
    // pinned order: per-edge rank div outdeg, exact sum, then
    // 1500 + (85*s) div 100) and must agree on ranks, round count, and
    // the stop rule (L1 < 100*n).
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L))
    val sym = und ++ und.map(_.swap)
    val edges = sym.toDF("u", "v")
    val (ranks, rounds, l1) = graft.ops.RelationalQueries2.pagerankLoop(edges)
    val got = ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: adjacency as plain maps
    val out = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nbrs = sym.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val n = out.size
    var ref = out.keys.map(_ -> 10000L).toMap
    var refL1 = Long.MaxValue
    var refRounds = 0L
    while (refL1 >= 100L * n && refRounds < 40) {
      val next = nbrs.map { case (node, in) =>
        node -> (1500L + 85L * in.map(s => ref(s) / out(s)).sum / 100L)
      }
      refL1 = next.map { case (k, v) => math.abs(v - ref(k)) }.sum
      refRounds += 1
      ref = next
    }
    assert(got === ref,
      s"distributed ranks diverged from the reference: got $got, want $ref")
    assert(rounds === refRounds, s"rounds $rounds != reference $refRounds")
    assert(l1 === refL1 && l1 < 100L * n,
      s"final L1 $l1 (reference $refL1) not under the 100*n=${100 * n} stop")
  }

  test("the graph loops reject a one-directional edge frame") {
    import spark.implicits._
    val oneWay = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val loops = Seq[(String, org.apache.spark.sql.DataFrame => Any)](
      "kcorePeelLoop" -> (graft.ops.RelationalQueries2.kcorePeelLoop(_)),
      "labelPropLoop" -> (graft.ops.RelationalQueries2.labelPropLoop(_)),
      "pagerankLoop" -> (graft.ops.RelationalQueries2.pagerankLoop(_)))
    for ((name, loop) <- loops) {
      val e = intercept[IllegalArgumentException](loop(oneWay))
      assert(e.getMessage.contains(name), s"rejection should name $name: ${e.getMessage}")
    }
  }

  test("labelprop loop evicts every checkpoint but the one behind its labels") {
    import spark.implicits._
    val sc = spark.sparkContext
    // RDDs created on this thread carry this call site, so the check sees
    // only the loop's own checkpoints, not those of suites running beside it
    val site = s"labelprop-eviction-${java.util.UUID.randomUUID()}"
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    sc.setCallSite(site)
    val (labels, _, rounds) =
      try graft.ops.RelationalQueries2.labelPropLoop(edges)
      finally sc.clearCallSite()
    assert(rounds === 5L, s"path 1-..-5 should converge in 5 rounds, got $rounds")
    val kept = org.apache.spark.sql.GraftSqlBridge.localCheckpointRddId(labels).toSet
    val pinned = sc.getPersistentRDDs
      .filter { case (_, r) => org.apache.spark.RddSiteProbe.creationSite(r) == site }.keySet
    assert(kept.nonEmpty && pinned === kept,
      s"loop left checkpoints pinned: rdd ids ${pinned -- kept} (labels read $kept)")
  }
}
