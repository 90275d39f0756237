package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence harness: measures whether the banded dedup/ANN paths'
  * per-row cost stays flat when the corpus grows 10×.
  *
  * The 100 TB argument so far rests on plan shapes (banded candidate
  * generation, broadcast centroids, no all-pairs joins). This tool adds the
  * measurement: it synthesizes a FACTOR× `documents`/`embeddings` corpus and
  * times the target queries at 1× vs FACTOR×, reporting per-row cost growth.
  *
  * Corpus construction — the replicas must model ORGANIC growth, not
  * verbatim duplication (replicating text 10× verbatim makes every duplicate
  * cluster 10× larger, which quadratically inflates candidate pairs and
  * measures a corpus no real pipeline has):
  *  - documents: each replica keeps the base corpus' intra-replica near-dup
  *    structure exactly but is decorrelated from other replicas by salting
  *    every token with the replica id (`tok` → `tok§r<k>`). Token-level
  *    sketches (MinHash, SimHash, containment) see identical within-replica
  *    geometry and unrelated cross-replica hashes.
  *  - embeddings: replica k applies a stride coordinate permutation
  *    (multiplier 2·(k div dim)+1, offset k mod dim) — norms and
  *    within-replica pairwise cosines are preserved bit-exactly,
  *    cross-replica correlations are scrambled (rotation alone repeats
  *    verbatim past factor = dim; see scaleEmbeddings).
  *  - ids are offset by `k * 10_000_000` so blocking keys never collide by id.
  *
  * Usage: runMain graft.tools.ScaleEvidence [baseSfDir] [scaledDir] [query ...]
  */
object ScaleEvidence {

  private val IdOffset = 10000000L

  def scaleDocuments(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val docs = graft.Tables.load(spark, baseDir, "documents")
    val reps = spark.range(factor).select(col("id").as("replica"))
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("replica") * IdOffset).as("doc_id"),
        when(col("replica") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("§r"), col("replica").cast("string"))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def scaleEmbeddings(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val e = graft.Tables.load(spark, baseDir, "embeddings")
    val reps = spark.range(factor).select(col("id").as("replica"))
    val dim = size(col("embedding"))
    // rotation alone collapses once factor > dim (review finding): the
    // rotation is replica MOD dim, so with 64-dim vectors replica 64 was
    // a byte-identical CLONE of replica 0 — at 100× that made 36% of the
    // corpus exact duplicates of earlier replicas, inflating every
    // 100×-embeddings number. A first fix (per-group SIGN patterns) left
    // same-rotation cross-group pairs at a structured cosine ≈ Σx_j²ε_j
    // (~0.19 for a 26/64 flip pattern — above the 1000 bp rule; second
    // review pass). Replica k now applies a STRIDE PERMUTATION
    // j → (a·j + b) mod dim with multiplier a = 2·(k div dim) + 1 (odd,
    // so coprime to the power-of-two dim = a true permutation) and
    // offset b = k mod dim. Any coordinate permutation preserves every
    // within-replica dot product and norm bit-exactly; the composite of
    // two distinct stride permutations is itself a stride permutation,
    // decorrelating cross-replica pairs exactly the way the rotations
    // (the a = 1 group) already demonstrably do. g = 0 IS the pure
    // rotation, so replicas below dim are byte-identical to the old
    // generator; first true repeat moves to factor = dim²/2 (2 048 at
    // 64 dims), guarded loudly below.
    val dimVal = e.select(size(col("embedding"))).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        s"$baseDir/embeddings is empty — cannot derive dim"))
    require(factor <= dimVal * dimVal / 2,
      s"factor $factor exceeds dim^2/2 = ${dimVal * dimVal / 2}: replica " +
        "(stride, offset) permutations repeat and the corpus silently " +
        "contains exact clones again — add a third decorrelator")
    // the odd-multiplier-is-coprime argument holds ONLY for power-of-two
    // dims: at e.g. dim = 96, stride 3 shares factor 3 and j → (3j+b) mod 96
    // is NOT a permutation — coordinates repeat/drop and the preserved-norm
    // invariant the whole methodology rests on silently breaks (ADVICE r14)
    require((dimVal & (dimVal - 1)) == 0,
      s"dim $dimVal is not a power of two: odd stride multipliers are not " +
        "guaranteed coprime to it, so the coordinate map is not a " +
        "permutation — pick a coprime-checked stride family first")
    val stride = floor(col("replica") / dim).cast("int") * 2 + 1
    val off = (col("replica") % dim).cast("int")
    val permuted = transform(sequence(lit(0), dim - 1),
      j => element_at(col("embedding"), (stride * j + off) % dim + 1))
    e.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("replica") * IdOffset).as("vec_id"),
        when(col("replica") === 0, col("embedding"))
          .otherwise(permuted).as("embedding"),
        col("label"))
  }

  /** PLANTED-DUPLICATE-CLUSTER embedding corpus — ground truth by
    * construction, for measuring banding RECALL where the organic fixtures
    * cannot: the sf* embeddings' pair cosines top out at ~0.60, so recall
    * against their ≥1000 bp "truth" says nothing about production dedup
    * (r14 verdict). Here every cluster is a deterministic integer base
    * direction plus per-member perturbations at 1/8 amplitude, putting
    * within-cluster cosines at ~0.97–0.99 (the genuine-duplicate regime)
    * while cross-cluster cosines stay in the random ±0.3 band.
    *
    * Determinism (scripts must stay replayable, no RNG): base weight
    * b(c,j) = ((((11c+13j+17cj+5) mod 101) + ((19c+29j+23cj+7) mod 103))
    * mod 11) − 5 and perturbation p(c,m,j) = ((((7c+23m+29j+31mj+19cj+1)
    * mod 103) + ((13c+17m+11j+37mj+41cj+3) mod 107)) mod 11) − 5 — the
    * [[graft.functions.VectorFunctions.planeWeight]] construction under
    * DIFFERENT moduli (101/103/107, not 67), so the corpus cannot be
    * accidentally aligned with the LSH plane family it exists to measure.
    * TWO moduli per weight, not one: a single-modulus formula is periodic
    * in c with period = the modulus, so clusters c and c+101 would get
    * IDENTICAL base vectors — exact cross-cluster clones, the same
    * contamination class the r14 scaleEmbeddings rotation bug planted
    * (measured before the fix: the 256-cluster corpus' ≥9000 bp truth was
    * 2.9× its within-cluster pair count). The mixed period is
    * lcm(101,103) = 10 403 clusters. Member vector v[j] = b + p/8; all
    * values are eighth-integers, bit-exact in FLOAT (the fixture schema)
    * and DOUBLE both.
    *
    * Truth is still MEASURED, not assumed: callers compute exact all-pairs
    * cosine on the planted corpus (affordable at these sizes) and take
    * ≥ 9000 bp as the duplicate set — construction guarantees within-
    * cluster pairs dominate it, but accidental cross-cluster hits (or an
    * anti-aligned perturbation pair dipping below) are adjudicated by the
    * measurement, never by the generator's intent.
    */
  def plantedEmbeddings(spark: SparkSession, nClusters: Int,
      perCluster: Int, dim: Int = 64): DataFrame = {
    spark.range(nClusters.toLong * perCluster)
      .select(col("id").as("vec_id"),
        expr(s"id div $perCluster").as("c"), // integral div, not double /
        (col("id") % perCluster).as("m"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), j => {
          val base = (((lit(11) * col("c") + lit(13) * j +
              lit(17) * col("c") * j + lit(5)) % 101 +
            (lit(19) * col("c") + lit(29) * j +
              lit(23) * col("c") * j + lit(7)) % 103)
            % 11 - 5).cast("double")
          val pert = (((lit(7) * col("c") + lit(23) * col("m") + lit(29) * j +
              lit(31) * col("m") * j + lit(19) * col("c") * j + lit(1)) % 103 +
            (lit(13) * col("c") + lit(17) * col("m") + lit(11) * j +
              lit(37) * col("m") * j + lit(41) * col("c") * j + lit(3)) % 107)
            % 11 - 5).cast("double")
          (base + pert / 8.0).cast("float")
        }).as("embedding"),
        col("c").cast("int").as("label"))
  }

  /** FACTOR× events: replicas are disjoint user populations (user and event
    * ids offset per replica), so every per-user window/session/sequence has
    * the base corpus' exact shape — the corpus just has FACTOR× more users,
    * which is precisely how an event fact grows in production.
    * `ts` is written as raw epoch-ns int64 (the driver fixtures'
    * TIMESTAMP(NANOS) convention) so [[graft.Tables.load]]'s ns→µs rebuild
    * applies unchanged to the scaled dir.
    */
  def scaleEvents(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val e = graft.Tables.load(spark, baseDir, "events")
    val reps = spark.range(factor).select(col("id").as("replica"))
    e.crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("replica") * IdOffset).as("event_id"),
        (unix_micros(col("ts")) * 1000).as("ts"),
        (col("user_id") + col("replica") * IdOffset).as("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  /** FACTOR× TPC-H trade tables for the graph battery: replicas are DISJOINT
    * customer/supplier/part/order populations (every key column offset by
    * k·IdOffset), so the trade graph grows as FACTOR disjoint copies of the
    * base graph — organic growth for a marketplace (more participants, same
    * local degree structure), which is the corpus iterative graph queries
    * face: cost should track edge count × iteration count, never blow up on
    * replica count.
    */
  def scaleOrders(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val o = graft.Tables.load(spark, baseDir, "orders")
    val reps = spark.range(factor).select(col("id").as("replica"))
    o.crossJoin(broadcast(reps))
      .select(
        (col("o_orderkey") + col("replica") * IdOffset).as("o_orderkey"),
        (col("o_custkey") + col("replica") * IdOffset).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
  }

  def scaleLineitem(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val li = graft.Tables.load(spark, baseDir, "lineitem")
    val reps = spark.range(factor).select(col("id").as("replica"))
    li.crossJoin(broadcast(reps))
      .select(
        (col("l_orderkey") + col("replica") * IdOffset).as("l_orderkey"),
        (col("l_partkey") + col("replica") * IdOffset).as("l_partkey"),
        (col("l_suppkey") + col("replica") * IdOffset).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
  }

  def scalePart(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val p = graft.Tables.load(spark, baseDir, "part")
    val reps = spark.range(factor).select(col("id").as("replica"))
    p.crossJoin(broadcast(reps))
      .select(
        (col("p_partkey") + col("replica") * IdOffset).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_scale10x")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val defaults = Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_containment",
      "dedup_exact", "ann_ivf", "ann_bruteforce",
      "events_sessionize", "events_paths", "events_markov", "window_running",
      "events_anomaly_mad", "join_asof_nearest",
      "stream_sessionize", "stream_join_outer")
    val allTargets = if (args.length > 2) args.drop(2).toSeq else defaults
    val (streamTargets, targets) = allTargets.partition(_.startsWith("stream_"))
    val spark = graft.LocalSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    // Factor marker: an existence-only guard silently reuses an OLD-factor
    // corpus while perRow divides by the NEW factor (every figure ~k× too
    // flat, no error), and a crash between the table writes wedges the dir.
    // The marker is written only after ALL tables land, and a mismatch (or
    // absence on a partially-built dir) regenerates everything.
    val markerPath = java.nio.file.Paths.get(s"$outDir/_FACTOR")
    // "v4": the marker also versions the TABLE SET and the generator
    // itself — v2 dirs predate the embeddings decorrelator (exact clones
    // at factor > 64), v3 the stride-permutation form of it
    val markerWant = s"$factor v4"
    val markerOk = java.nio.file.Files.exists(markerPath) &&
      java.nio.file.Files.readString(markerPath).trim == markerWant
    if (!markerOk) {
      java.nio.file.Files.deleteIfExists(markerPath)
      scaleDocuments(spark, baseDir, factor)
        .repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      scaleEmbeddings(spark, baseDir, factor)
        .repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      scaleEvents(spark, baseDir, factor)
        .repartition(32).write.mode("overwrite").parquet(s"$outDir/events.parquet")
      scaleOrders(spark, baseDir, factor)
        .repartition(32).write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      scaleLineitem(spark, baseDir, factor)
        .repartition(32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      scalePart(spark, baseDir, factor)
        .repartition(32).write.mode("overwrite").parquet(s"$outDir/part.parquet")
      // stale single-file stream layout must regenerate with the tables
      val streamFiles = java.nio.file.Paths.get(s"$outDir/stream1")
      if (java.nio.file.Files.exists(streamFiles)) {
        val walk = java.nio.file.Files.walk(streamFiles).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        try walk.forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      java.nio.file.Files.writeString(markerPath, markerWant)
    }
    // Streaming axis: the file-stream source wants dir/events.parquet to be
    // ONE file (like the driver fixtures), so the scaled events are re-laid
    // out as a single file under a sibling dir — one AvailableNow batch at
    // both scales, isolating STATE-STORE growth (the scale risk batch
    // queries don't have) from file-count effects.
    val streamDir = s"$outDir/stream1"
    // (documents too: stream_neardup_gate streams documents and batch-reads
    // them for its attrition rollup from the same dir; embeddings for the
    // semantic gate stream_embdup_verified)
    for (table <- Seq("events", "documents", "embeddings")) {
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$streamDir/$table.parquet"))) {
        val tmp = s"$streamDir/_coalesced"
        spark.read.parquet(s"$outDir/$table.parquet")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = graft.ops.StreamingQueries.theOnlyPartFile(
          new java.io.File(tmp))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$streamDir/$table.parquet"))
      }
    }
    val nDocs = spark.read.parquet(s"$outDir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    val nEvents = spark.read.parquet(s"$outDir/events.parquet").count()
    println(s"scaled corpus at $outDir: documents=$nDocs embeddings=$nVecs " +
      s"events=$nEvents (factor=$factor)")

    val registry = graft.SparkEntry.queries
    // warm-up (codegen + page faults), then the faster of two timed runs
    def best(df: => DataFrame): graft.SparkEntry.TimedRun = {
      graft.SparkEntry.timeRun(spark)(df).get
      Seq.fill(2)(graft.SparkEntry.timeRun(spark)(df).get).minBy(_.wallSec)
    }
    def row(name: String, t1: Double, tN: Double) = {
      val (growth, perRow) = (tN / t1, tN / t1 / factor)
      println(f"$name%-22s $t1%8.2f $tN%8.2f $growth%7.1fx $perRow%7.2fx")
      (name, t1, tN, growth, perRow)
    }
    println(f"${"query"}%-22s ${"t_1x"}%8s ${s"t_${factor}x"}%8s ${"growth"}%8s ${"perRow"}%8s")
    val rows = targets.map { q =>
      row(q, best(registry(q)(spark, baseDir)).wallSec,
        best(registry(q)(spark, outDir)).wallSec)
    } ++ streamTargets.flatMap { q =>
      // Streaming rows: each run is a fresh AvailableNow query (fresh
      // checkpoint inside streamRun). Two rows per query: wall (bootstrap +
      // exec, the bench convention) and _exec (micro-batch triggerExecution
      // of the same run) — state-store growth shows in _exec; bootstrap is
      // scale-invariant fixed cost. A missing record fails the row rather
      // than report bootstrap-inclusive wall time as _exec.
      def exec(r: graft.SparkEntry.TimedRun) = r.streams.getOrElse(q,
        sys.error(s"$q left no stream run record")).execSec
      val r1 = best(registry(q)(spark, baseDir))
      val rN = best(registry(q)(spark, streamDir))
      Seq(row(q, r1.wallSec, rN.wallSec),
        row(s"${q}_exec", exec(r1), exec(rN)))
    } ++ {
      // The LSH sizing knob, measured: the registered dedup_containment now
      // AUTO-sizes its band width from the corpus count (10-bit ≤1024 docs,
      // 15-bit beyond), so its own row above already shows the auto-sized
      // growth. This extra row is the COUNTERFACTUAL — fixed 10-bit at both
      // scales — quantifying what auto-sizing saves (r5 measured 5.2×).
      def contain(dir: String) = best(graft.ops.DedupQueries.containmentPairs(
        graft.Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 10 === 0), 10)).wallSec
      if (targets.contains("dedup_containment"))
        Seq(row("containment_10bit", contain(baseDir), contain(outDir)))
      else Nil
    }
    val json = rows.map { case (q, t1, tN, g, pr) =>
      f"""  "$q": {"t_1x": $t1%.3f, "t_${factor}x": $tN%.3f, "growth": $g%.2f, "per_row_cost": $pr%.2f}"""
    }.mkString("{\n", ",\n", "\n}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/scale_evidence.json"), json)
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }
}
