package graft

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.create(cpus)
    // Warm-up outside the timers: JVM/codegen bring-up and parquet footer
    // reads otherwise land entirely on whichever query happens to run first.
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => try Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () })
    // Full untimed pass first: JIT + per-query codegen + heap page faults.
    // This host provisions anonymous memory lazily at 0.05-0.3 GB/s
    // (serialized first-touch faults), so a cold pass measures the host's
    // page loader, not the engine; the timed pass below runs on a heap whose
    // pages are already resident and measures steady-state query speed.
    SparkEntry.queries.foreach { case (_, fn) =>
      try SparkEntry.runToCompletion(fn(spark, sfDir))
      catch { case _: Throwable => () }
    }
    // Two timed passes, per-query minimum: this host stalls tens of seconds
    // at random on first-touch page provisioning (see BASELINE.md); the min
    // of two warm runs reports engine speed, not whichever query a stall
    // happened to land on.
    // A failed query yields None — never a time. Recording time-to-exception
    // as a result made r7's 76 broken queries "run" in ~0.06 s each and the
    // headline total IMPROVE; failures are excluded from every total and
    // reported by name instead, so a red run can never bench faster than a
    // green one.
    // Each run also keeps the micro-batch exec seconds of every stream it
    // ran (lastExecSec, emptied before the run; None when it ran none), so
    // a query's exec split comes from the same run as its wall.
    def timedPass(): Map[String, Option[(Double, Option[Double])]] =
      SparkEntry.queries.map { case (name, fn) =>
        ops.StreamingQueries.lastExecSec = Map.empty
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.runToCompletion(fn(spark, sfDir)); true }
          catch { case _: Throwable => false }
        val execs = ops.StreamingQueries.lastExecSec.values
        name -> (if (ok) Some(((System.nanoTime() - t0) / 1e9,
          if (execs.isEmpty) None else Some(execs.sum))) else None)
      }
    // Pass count is env-tunable (SPARK_GRAFT_BENCH_PASSES, default 2): the
    // driver host shows broad ±0.2-0.4 s per-query drift that two passes
    // don't fully absorb; a steady-state investigation can raise this
    // without a code change. A query is failed if ANY pass failed — more
    // passes can only tighten times, never hide a red query. Unparseable
    // values fall back to 2: a typo'd export must not crash the bench
    // AFTER the multi-minute warm pass and lose the whole artifact.
    val nPasses = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").trim.toInt)
      .getOrElse(2))
    val passes = Seq.fill(nPasses)(timedPass())
    val failed = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => passes.exists(_(n).isEmpty))
    // per query: the (wall, exec) of its fastest pass
    val runs = SparkEntry.queries.keys.toSeq
      .filterNot(failed.contains)
      .map(n => n -> passes.map(_(n).get).minBy(_._1)).toMap
    val results = runs.map { case (n, (wall, _)) => n -> wall }
    // 3-decimal rounding keeps the full per-query line well under the
    // driver's stdout tail window (r1-r3 all had "parsed": null because the
    // ~6 KB full-precision line got its head clipped by that window).
    // Locale.ROOT: the default locale can use a comma decimal separator,
    // which would make every number in the JSON line unparseable.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // Cross-query sharing that keeps per-query numbers honest to read
    // (r13 verdict ask #3): dedup_minhash_lsh and the three COMPARISON
    // passes (stream_neardup_{unordered,ttl,late}) share TWO plan-keyed
    // caches from DedupQueries.verifiedPairs — the corpus minhash
    // signatures and the VERIFIED pair set. Whichever of those FOUR runs
    // first in the warm pass pays the build; every timed pass reads both
    // warm. So those stream queries' time = staging + replay (the engine's
    // own per-batch signature/band/verify work is NOT shared — it
    // recomputes on arrival inside foreachBatch) + a warm-cache comparison
    // join. stream_neardup_verified is NOT a sharer: its oracle needs no
    // comparison join, so its time is pure staging + replay. The honest
    // cold cost of the comparison frames lives in the dedup_minhash_lsh
    // TimeQuery row, same convention as the BPE memo. The embedding twin
    // has NO bench-time cache: VectorQueries.embVerifiedPairs is shared
    // code, not a shared cache (its only bench-time consumer is
    // dedup_embedding_lsh itself — caching would just deflate that
    // tracked number), and stream_embdup_verified runs pure staging +
    // replay, like stream_neardup_verified. r15: ttl and late ALSO share
    // one memoized mod-6 staged replay dir (the slicing is identical;
    // only the engine-side bid rule differs) — whichever runs first pays
    // the one staging job, so the second's number is replay + comparison
    // only; the staging cost still shows in the first sharer's row.
    // headline total = batch queries only: each streaming query pays a fixed
    // multi-second micro-batch bootstrap (checkpoint dir, query start/stop)
    // that measures Structured Streaming's setup cost, not engine throughput;
    // they are still timed individually and reported under streaming_total.
    // "Streaming" = recorded a triggerExecution split (lastExecSec), which
    // also catches non-stream_-prefixed stream drivers like snapshot_asof —
    // keeping streaming_total and streaming_exec_total over the SAME set.
    val (streamRes, batchRes) = results.partition { case (n, _) =>
      n.startsWith("stream_") || runs(n)._2.isDefined }
    val total = if (batchRes.nonEmpty) batchRes.values.sum else 0.0
    val streamTotal = if (streamRes.nonEmpty) streamRes.values.sum else 0.0
    // Micro-batch execution seconds (sum of triggerExecution durations of
    // the same run as each streaming query's minimum wall): separates real
    // processing time from the fixed AvailableNow bootstrap included in
    // streaming_total. Failed queries have no run, so no exec seconds.
    val streamExecTotal = runs.values.flatMap(_._2).sum
    // Host-drift controls: six stable queries spanning profiles (DPP scan,
    // bucketed join, iterative graph, codegen scan+agg, a text battery, a
    // dedup/window pipeline) are compared against their recorded in-bench
    // mins; the median ratio is the run's host factor. Divide the headline
    // by it before comparing windows: >~1.15 means the host window, not
    // the code, inflated this run. The six were pinned together from one
    // sf0.1 run (BASELINE.md, "Bench re-baseline: runToCompletion", which
    // gives its cores and heap) and must be re-pinned if a control's code,
    // its fixture or the way Bench runs a query changes.
    val controlRecords = Map(
      "layout_dpp" -> 0.747, "layout_bucketed" -> 1.645,
      "graph_kcore" -> 3.173, "q1_pricing" -> 0.345,
      "text_ngrams" -> 0.762, "pipeline_url_dedup" -> 0.428)
    // records are meaningful ONLY at the scale factor they were pinned at:
    // at any other sfDir the ratios measure data size, not host health, so
    // the block degrades to empty controls + factor 1.0 (documented as
    // "not applicable") rather than emitting a confidently wrong factor
    val controlsSf = "sf0.1"
    val controlsApplicable =
      sfDir.stripSuffix("/").endsWith(controlsSf)
    val controlsNow =
      if (!controlsApplicable) Seq.empty
      else controlRecords.toSeq.sorted
        .flatMap { case (n, rec) => results.get(n).map(v => (n, v, rec)) }
    val hostFactor = {
      val ratios = controlsNow.map { case (_, v, rec) => v / rec }.sorted
      if (ratios.isEmpty) 1.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
    }
    def controlsJson: String = controlsNow
      .map { case (n, v, rec) => "\"" + n + "\":{\"now\":" + f3(v) +
        ",\"record\":" + f3(rec) + "}" }
      .mkString("{", ",", "}")

    // The driver's stdout capture keeps only the LAST ~2000 bytes (measured:
    // BENCH_r04-r06 "tail" is exactly 2000 chars), so the full per-query line
    // (~6 KB at 230+ queries) can NEVER survive in the artifact-of-record —
    // only /tmp/bench.json carries it whole. The summary line is what the
    // driver parses; pack as many slowest-first entries into it as fit a
    // 1700-byte budget (leaving room for sbt's trailing "[success]" line
    // inside the window) instead of a fixed top-10.
    val summaryBudget = 1700
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The summary line only carries failed NAMES while they fit its budget;
    // failed_count is always present either way.
    val failedSummary =
      if (failedJson.length <= 300) s""""failed":$failedJson,""" else ""
    def tailWith(sf: String) =
      s""","streaming_total":${f3(streamTotal)},"streaming_exec_total":${f3(streamExecTotal)},""" +
      s""""batch_count":${batchRes.size},""" +
      s""""stream_count":${streamRes.size},$failedSummary"failed_count":${failed.size},""" +
      s""""controls":$controlsJson,"controls_host_factor":${f3(hostFactor)},""" +
      s""""controls_sf":"$controlsSf","summary":"slowest_first","sf":"$sf"}"""
    // ADVICE r7: the fixed overhead embeds sfDir — an unusually long path
    // could push head+tail alone past the budget and get the summary's head
    // clipped by the driver's ~2000-byte stdout tail window. Degrade, never
    // crash (a crash here would lose the whole bench artifact): drop the sf
    // path from the SUMMARY line only (the full line + file still carry it).
    val fixedTail = {
      val full = tailWith(sfDir)
      if (full.length + 120 <= summaryBudget) full else tailWith("<omitted>")
    }
    val head = s"""{"metric":"total_summary","value":${f3(total)},"unit":"sec","queries":{"""
    val entries = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
    var used = head.length + fixedTail.length + 1 // closing brace of queries
    val kept = entries.takeWhile { e =>
      used += e.length + 1; used <= summaryBudget }
    // "total_summary", not "total": the driver keeps the LAST record whose
    // schema parses; a distinct metric name keeps this line distinguishable
    // from the full-map line in downstream tooling.
    val summary = head + kept.mkString(",") + "}" + fixedTail
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
      s""""streaming_total":${f3(streamTotal)},"streaming_exec_total":${f3(streamExecTotal)},""" +
      s""""controls":$controlsJson,"controls_host_factor":${f3(hostFactor)},""" +
      s""""controls_sf":"$controlsSf",""" +
      s""""failed":$failedJson,"failed_count":${failed.size},"sf":"$sfDir"}"""
    // stdout is the driver's parse source, but it is at the mercy of log
    // interleaving/truncation — persist the full line to a file as well
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")), line)
    catch { case _: Throwable => () }
    // Print order matters: the driver's parse window keeps the TAIL of
    // stdout, so the full per-query line goes FIRST and the compact summary
    // (totals + top-10 slowest, always small enough to survive the window)
    // goes LAST. If the full line's head gets clipped, its fragment is
    // unparseable and the intact summary — same schema — still parses.
    println(line)
    println(summary)
    spark.stop()
  }
}
