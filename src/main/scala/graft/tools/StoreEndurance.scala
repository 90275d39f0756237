package graft.tools

import org.apache.spark.sql.functions.col

/** Many-batch ENDURANCE axis for the neardup store family (r13 verdict top
  * ask): every bench replay is 3–6 micro-batches — long enough to verify
  * semantics, far too short to see whether the per-batch cost and store
  * file count actually hold their claimed bounds (flat O(window) under
  * TTL; sawtooth bounded by the compaction pressure trigger when
  * unbounded). This tool replays the documents corpus as N interleaved
  * slices through [[graft.ops.StreamingQueries.neardupStoreRun]] in either
  * config and prints the per-batch wall / store-file-count / maintenance
  * trajectories the claims are graded on, then the neardup engine's
  * per-stage milliseconds of each batch (`BatchStats.stageMs`: the
  * batch-thread stages `sig` … `held`, then the writer thread's `bwrite`
  * and `swrite`, which overlap the next batch).
  *
  * `embttl` runs the same axis on the EMBEDDING store (r14 verdict ask
  * #4: the embdup registry replay is 3 batches — neither retention nor
  * any maintenance can fire there, so the text-engine endurance evidence
  * transferred only by analogy until this replay exercised the embdup
  * store's own bid-partitioned retention path).
  *
  * Usage: runMain graft.tools.StoreEndurance <sfDir> <slices> <ttl|compact|embttl> [k]
  */
object StoreEndurance {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val slices = args(1).toInt
    val mode = args(2)
    val k = if (args.length > 3) args(3).toInt
            else graft.ops.StreamingQueries.TtlWindowBatches
    require(mode == "ttl" || mode == "compact" || mode == "embttl",
      s"unknown mode $mode")
    // the shared session recipe: its replays reuse generated classes
    // instead of recompiling them per stream run
    val spark = graft.LocalSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000).selectExpr("sum(id)").collect()
    val S = graft.ops.StreamingQueries
    val stats = scala.collection.mutable.ArrayBuffer.empty[S.BatchStats]
    val (held, wall) = if (mode == "embttl") {
      val emb = graft.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // SPARK_GRAFT_EMB_BITS pins the band width for in-stream knob A/Bs
      // (e.g. old 8 vs the auto ladder at 100×); unset = registry derive
      val bitsOverride = sys.env.get("SPARK_GRAFT_EMB_BITS").map(_.toInt)
      // short warm replay first (same rationale as the text axis)
      S.embdupStoreRun(spark, "endure_warm_emb", emb,
        S.stageSlices(emb, 3, col("vec_id") % 3), retainBatches = Some(k),
        bitsOverride = bitsOverride).count()
      val t0 = System.nanoTime()
      val h = S.embdupStoreRun(spark, s"endure_embttl_$slices", emb,
        S.stageSlices(emb, slices, col("vec_id") % slices),
        retainBatches = Some(k), onBatch = Some(stats += _),
        bitsOverride = bitsOverride).count()
      (h, (System.nanoTime() - t0) / 1e9)
    } else {
      val docs = graft.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      // short warm replay first: JIT + page-fault bring-up otherwise lands
      // entirely on the first batches and fakes a warmup trend
      S.neardupStoreRun(spark, s"endure_warm", docs,
        S.stageDocModSlices(docs, 3),
        retainBatches = if (mode == "ttl") Some(k) else None).count()
      val t0 = System.nanoTime()
      val h = S.neardupStoreRun(spark, s"endure_${mode}_$slices", docs,
        S.stageDocModSlices(docs, slices),
        retainBatches = if (mode == "ttl") Some(k) else None,
        onBatch = Some(stats += _)).count()
      (h, (System.nanoTime() - t0) / 1e9)
    }
    println(f"[endure] mode=$mode slices=$slices k=$k sf=$sfDir total=$wall%.1f s held=$held")
    // embttl's second table is the VEC store, and the embdup engine runs
    // no compaction (retention bounds its files; the zeros are hard zeros
    // from the engine, not text-engine counter echoes) — label accordingly
    // (r15 ADVICE: the embttl trajectory printed under text-store headers)
    val stages = stats.headOption.map(_.stageMs.map(_._1)).getOrElse(Nil)
    if (mode == "embttl")
      println("[endure] batch wallMs bandFiles vecFiles drops")
    else
      println("[endure] batch wallMs bandFiles sigFiles compactions " +
        "sigCompactions drops" + stages.map(st => s" ${st}Ms").mkString)
    val prevC = stats.headOption.map(_.compactions).getOrElse(0L)
    val prevS = stats.headOption.map(_.sigCompactions).getOrElse(0L)
    val prevD = stats.headOption.map(_.drops).getOrElse(0L)
    // deltas vs the run's own first batch: the counters are JVM-global
    stats.foreach { s =>
      if (mode == "embttl")
        println(s"[endure] ${s.batchId} ${s.wallMs} ${s.bandFiles} " +
          s"${s.sigFiles} ${s.drops - prevD}")
      else
        println(s"[endure] ${s.batchId} ${s.wallMs} ${s.bandFiles} " +
          s"${s.sigFiles} ${s.compactions - prevC} " +
          s"${s.sigCompactions - prevS} ${s.drops - prevD}" +
          s.stageMs.map { case (_, ms) => s" $ms" }.mkString)
    }
    // quartile summary: the plateau/bound claim in one line per quarter
    val q = math.max(1, stats.size / 4)
    val second = if (mode == "embttl") "maxVecFiles" else "maxSigFiles"
    stats.grouped(q).zipWithIndex.foreach { case (g, i) =>
      val mw = g.map(_.wallMs).sum / g.size
      println(s"[endure] quarter=$i meanWallMs=$mw " +
        s"maxBandFiles=${g.map(_.bandFiles).max} " +
        s"$second=${g.map(_.sigFiles).max}")
    }
    spark.stop()
  }
}
