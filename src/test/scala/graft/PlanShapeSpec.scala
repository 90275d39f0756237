package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: no registry query may silently ship a
  * scale-killer physical plan. Gates, per query: no CartesianProduct ever;
  * BroadcastNestedLoopJoin only for the allowlisted queries whose broadcast
  * side is provably tiny (each entry justified below); and pushdown
  * sentinels — selective scans must reach the parquet reader as
  * PushedFilters, and narrow projections must prune ReadSchema.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** BNLJ is acceptable ONLY when the build side is bounded by a constant:
    * a 1-row global aggregate or a small broadcast lookup that does not grow
    * with the data. Adding a name here requires writing the justification.
    */
  private val bnljAllowed: Map[String, String] = Map(
    "agg_approx_quantile" -> "broadcast 1-row GK sketch result, re-ranked against the data",
    "cdc_diff" -> "broadcast 1-row stream-bounds aggregate (t1 cutoff)",
    "cdc_merge_apply" -> "broadcast 1-row stream-bounds aggregate (t1 cutoff)",
    "ann_bruteforce" -> "broadcast fixed query-vector set (8 probes) vs corpus",
    "ann_ivf" -> "broadcast centroid table (8 cells) + query set",
    "dedup_semantic" -> "broadcast centroid table (16 rows) for cluster assignment",
    "ann_ivf_pq" -> "broadcast coarse centroids (16) + PQ codebook (4x4) + ADC table (128 rows)",
    "ann_recall" -> "broadcast query set joined to its own ground truth",
    "kmeans_step" -> "broadcast current centroids (k=8)",
    "graph_triangles" -> "broadcast 1-row scalar aggregates (edge/wedge/triangle counts)",
    "join_range_bucket" -> "broadcast 5-row bucket-boundary dimension",
    "q11_stockvalue" -> "broadcast 1-row global threshold aggregate (TPC-H Q11 shape)",
    "q22_idle" -> "broadcast 1-row global avg-balance aggregate (TPC-H Q22 shape)",
    "text_tfidf" -> "broadcast 1-row corpus doc-count aggregate",
    "text_bm25" -> "broadcast 1-row corpus avgdl aggregate",
    "text_hash_embed" -> "broadcast 1-row vocabulary-size aggregate",
    "text_keywords" -> "broadcast 1-row corpus token-total aggregate",
    "assoc_rules" -> "broadcast 1-row basket-count aggregate (lift denominator)",
    "events_rfm" -> "broadcast 1-row corpus max-day aggregate (recency anchor)",
    "join_division" -> "broadcast 1-row part-universe count (division denominator)",
    "quality_drift" -> "broadcast 1-row midpoint + 1-row totals aggregates",
    "events_islands" -> "broadcast 1-row total/minute-count aggregate (burst threshold)",
    "vector_power_iteration" -> "broadcast 1-row max-abs rescale per iteration (3 rows total)",
    "events_survival" -> "broadcast 1-row horizon + 1-row at-risk-total aggregates",
    "vector_pca_project" -> "broadcast 1-row eigenvector array (64 entries) + per-iteration rescale rows",
    "sample_stratified" -> "broadcast 1-row Neyman weight-total aggregate",
    "text_bpe_apply" -> "broadcast 1-row top-merge-pair aggregate",
    "text_bpe_encode" -> "broadcast 1-row total-chars aggregate over the checkpointed symbol table",
    "graph_kcore" -> "broadcast 1-row edge-count aggregate per peel round (3 rows total)",
    "graph_kcore_converge" -> "broadcast 1-row edge-count aggregate over the converged core",
    "text_dsir_select" -> "broadcast 1-row feature-total aggregate (DSIR share denominators)",
    "text_quality_classifier" -> "broadcast 1-row class-total aggregate (lift denominators)",
    "text_ccnet_bucket" -> "broadcast 1-row LM vocabulary-size aggregate (smoothing denominator)")
    // pipeline_curate_v2 composes the same 1-row LM aggregate crossJoin,
    // but its eager localCheckpoints cut that stage out of the final
    // inspected plan — no allowlist entry needed (the staleness gate
    // flagged exactly this)
  // dedup_eval's 1-row sample-modulus BNLJ runs eagerly inside its
  // localCheckpoint, so it never appears in the gated (post-checkpoint) plan.

  /** Streaming queries execute the stream inside fn (their returned plan is
    * the memory-sink table scan — nothing to gate), and dedup_components
    * runs its iterative loop eagerly; both are covered by their own specs.
    */
  private def gated = SparkEntry.registry
    .filterNot(_.name.startsWith("stream_"))
    .filterNot(_.name == "dedup_components")

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  for (q <- gated) {
    test(s"${q.name}: no CartesianProduct, BNLJ only when allowlisted") {
      val plan = planOf(q.name)
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct — unbounded at scale")
      if (!bnljAllowed.contains(q.name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans a BroadcastNestedLoopJoin without an allowlist " +
            "justification — if the build side is provably tiny, add it to " +
            "bnljAllowed with the reason; otherwise fix the join to an equi key")
    }
  }

  /** The gated queries [[graft.plans.RewriteIntervalJoin]] rewrites at
    * sf0.001. LocalSession installs the rule for every plan of every
    * session, so a query that newly matches its band shape shows up here
    * and must be checked against its oracle before it joins the list.
    */
  private val bucketRewritten = Set("join_range_rule")

  test("RewriteIntervalJoin rewrites exactly the expected registry queries") {
    val rewritten = gated.map(_.name)
      .filter(n => planOf(n).contains("__graft_bucket")).toSet
    assert(rewritten === bucketRewritten)
  }

  test("allowlist carries no stale entries") {
    val stale = bnljAllowed.keySet.filterNot(n =>
      planOf(n).contains("BroadcastNestedLoopJoin"))
    assert(stale.isEmpty, s"no longer BNLJ, remove from allowlist: $stale")
  }

  /** Pushdown sentinels: these selective scans must push predicates into the
    * parquet reader. Catches a regression where a filter silently moves
    * above the scan (e.g. a non-deterministic wrapper or a cast blocking
    * pushdown) and the scan starts reading everything.
    */
  // sql_parameterized pins the claim its notes make: values bound through
  // parameter markers behave like literals and reach the scan as
  // PushedFilters (a binding style that blocked pushdown would silently
  // full-scan every templated query)
  private val pushdownRequired =
    Seq("q6_revenue", "q14_promo", "q12_late", "sql_parameterized")
  for (name <- pushdownRequired) {
    test(s"$name: filters reach the parquet scan") {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
        s"$name has no non-empty PushedFilters in:\n$plan")
    }
  }

  test("q6_revenue: projection prunes the lineitem scan to the used columns") {
    val plan = SparkEntry.queries("q6_revenue")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // 4 columns used (quantity, extendedprice, discount, shipdate) of the
    // fixture's 11. The absence probe must be a column that EXISTS in the
    // fixture and sits EARLY in its order (l_partkey is column 2): the old
    // l_comment probe named a full-TPC-H column this fixture doesn't have,
    // so an unpruned scan still passed; and a late column could fall past
    // the explain's ~100-char ReadSchema truncation either way.
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("l_quantity") && !readSchema.contains("l_partkey"),
      s"q6 scan is not pruned: $readSchema")
  }

  /** Broadcast sentinels: these queries' scale posture rests on a small
    * side being BROADCAST back over the corpus (weight table / per-dim
    * stats). A silent fall-back to SortMergeJoin would shuffle the whole
    * corpus pass and not fail any correctness gate — pin the join strategy.
    */
  for (name <- Seq("text_dsir_select", "vector_outliers",
      "text_quality_classifier")) {
    test(s"$name: the bounded side joins via BroadcastHashJoin") {
      val plan = planOf(name)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name lost its broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name shuffles a corpus pass through SortMergeJoin:\n$plan")
    }
  }

  test("pipeline_decontaminate_sem: benchmark side broadcasts, cosine verify fused into the join") {
    val plan = planOf("pipeline_decontaminate_sem")
    // the whole scale posture: the benchmark slice (band keys + vectors)
    // is the BUILD side of a broadcast join and the exact-cosine verify
    // runs as that join's condition — the candidate×vector intermediate
    // must never surface as its own exchanged stage. (The final
    // contam-set left-outer may plan SMJ statically; AQE demotes it —
    // not gated here.)
    assert(plan.split("\n").exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("cosine_similarity")),
      s"benchmark band join lost its broadcast+fused-verify shape:\n$plan")
  }

  test("minhash band keys: one native minhash_sig per row projection, no lambdas") {
    val plan = graft.ops.DedupQueries
      .minhashBandKeys(Tables.load(spark, sfDir, "documents"), 4)
      .queryExecution.executedPlan.toString
    // a HOF fallback evaluates interpreted; an inlined kernel (projection
    // collapse into the 64 element_at band reads) would run it per read
    assert(!plan.contains("lambdafunction"), s"signature fell back to HOFs:\n$plan")
    assert("minhash_sig\\(".r.findAllMatchIn(plan).size === 1,
      s"minhash_sig is not computed exactly once per row:\n$plan")
  }

  test("vector_outliers: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf("vector_outliers")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("pipeline_url_dedup: per-domain quota caps map-side via WindowGroupLimit") {
    val plan = planOf("pipeline_url_dedup")
    // the rnk<=10 filter must compile to a PARTIAL WindowGroupLimit below
    // the host exchange — that is what keeps a billion-page domain from
    // funnelling into one window partition
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"per-host quota lost its map-side WindowGroupLimit:\n$plan")
    // host stats ride a broadcast join over the quota survivors, and the
    // deduped page frame is checkpointed — neither side re-shuffles a
    // corpus pass through SortMergeJoin
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"host-stats join shape regressed:\n$plan")
  }
}
