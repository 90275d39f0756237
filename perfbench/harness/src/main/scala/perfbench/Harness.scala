package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{LocalSession, SparkEntry, Tables}
import graft.ops.GoldPipeline
import graft.sources.{CsvSource, LocalFixturePageFetcher, PagedJsonSource}

/** One benchmark run: set up, then closed-loop passes over a workload's
  * queries on one driver thread until the time budget is spent.
  *
  * Every execution collects its full result and compares an order-independent
  * digest against the pinned expectation. A query that throws or mismatches
  * is counted as failed; the pass still runs every remaining query and its
  * time still includes the failed one.
  *
  * Arguments (all required, `--name value`): workload, queries (comma list),
  * seed, seconds, trace (0|1), cores, setups, warm, data, fixtures, expected,
  * work.
  */
object Harness {

  final case class Exec(pass: Int, query: String, startMs: Long, endMs: Long,
      wallS: Double, ok: Boolean, error: String)

  final case class Pass(idx: Int, traced: Boolean, startMs: Long, endMs: Long,
      wallS: Double, cpuS: Double, hostProbeS: Double, storedMb: Double,
      heapPeakMb: Double, loadS: Double, goldRunS: Double, goldCtasS: Double,
      gcS: Double, jitS: Double)

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val queries = opt("queries").split(",").toSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores")
    val setups = opt("setups").toInt
    val warmPasses = opt("warm").toInt
    val (data, fixtures, work) = (opt("data"), opt("fixtures"), opt("work"))
    // name -> (digest, oracle verdict); a query pinned as failing its oracle
    // counts as failed on every execution, whatever it returns
    val expected = Files.readAllLines(Paths.get(opt("expected"))).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, d, v) = l.split("\t"); k -> (d, v == "PASS") }.toMap
    val missing = queries.filterNot(expected.contains)
    require(missing.isEmpty, s"no pinned digest for: ${missing.mkString(", ")}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val heap = new HeapWatch
    val warehouse = System.getProperty("spark.sql.warehouse.dir", "spark-warehouse")

    // ---- set-up ---------------------------------------------------------------
    // A session set-up is a new session plus the footers of every table. It
    // runs `setups` times (setup_s is their median; the first also carries
    // JVM start), then one warm pass fills JIT, codegen, heap first touch and
    // lazy program state in the last session; further warm passes let the
    // JIT settle before timing. cold_start_s is what a single pipeline
    // process pays before its first timed pass: JVM start, the first session
    // set-up and the first warm pass.
    var spark: SparkSession = null
    val setupS = (1 to setups).map { k =>
      val t0 = if (k == 1) jvmStartMs else System.currentTimeMillis
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      // a warehouse per session, as for separate processes: the session
      // catalog is in memory, so a new session does not know the tables an
      // earlier one wrote, and a CTAS onto their leftover location fails
      System.setProperty("spark.sql.warehouse.dir", s"$warehouse-$k")
      spark = LocalSession.create(cores)
      Tables10.foreach(t => Tables.load(spark, data, t).schema)
      (System.currentTimeMillis - t0) / 1e3
    }
    val registry = SparkEntry.queries
    val warmS = (1 to warmPasses).map { _ =>
      val w0 = System.currentTimeMillis
      queries.foreach { q =>
        try runQuery(spark, registry, q, data, fixtures, _ => ()).collect()
        catch { case e: Throwable => System.err.println(s"[perfbench] warm $q failed: $e") }
      }
      (System.currentTimeMillis - w0) / 1e3
    }
    val coldStartS = setupS.head + warmS.head
    System.err.println(s"[perfbench] session set-ups ${setupS.mkString(" ")} s, warm passes ${warmS.mkString(" ")} s")
    val sc = spark.sparkContext
    val probe = new Probe(spark)

    // ---- timed passes ------------------------------------------------------
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[Pass]
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val budgetStart = System.nanoTime
    def elapsed = (System.nanoTime - budgetStart) / 1e9
    var p = 0
    // The traced run alternates untraced and traced passes in ABBA order, so
    // trace_overhead compares passes equally far into the run. A pass starts
    // only if it is expected to end inside the budget.
    val minPasses = if (traced) 4 else 3
    while (p < minPasses || (elapsed + passes.map(_.wallS).max <= seconds)) {
      val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
      spark.catalog.clearCache()
      val hostProbeS = HostProbe.run()
      if (tracedPass) probe.attach()
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(queries)
      heap.reset()
      val cpu0 = os.getProcessCpuTime
      val gc0 = JvmTimes.gcMs
      val jit0 = JvmTimes.jitMs
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      Tables10.foreach(t => Tables.load(spark, data, t).schema)
      val loadS = (System.nanoTime - t0) / 1e9
      var goldRun, goldCtas = 0.0
      order.zipWithIndex.foreach { case (q, i) =>
        sc.setLocalProperty(Probe.TagKey, s"p$p/q$i")
        val qMs = System.currentTimeMillis
        val q0 = System.nanoTime
        val (ok, err) =
          try {
            val df = runQuery(spark, registry, q, data, fixtures,
              g => { goldRun += g.runS; goldCtas += g.ctasS })
            val got = Digest.of(df.schema, df.collect())
            val (want, oracleOk) = expected(q)
            if (!oracleOk) (false, "fails its DuckDB oracle at sf0.1")
            else if (want == got) (true, "")
            else (false, s"digest $got, expected $want")
          } catch { case e: Throwable => (false, e.toString.take(300)) }
        execs += Exec(p, q, qMs, System.currentTimeMillis, (System.nanoTime - q0) / 1e9, ok, err)
        if (!ok) System.err.println(s"[perfbench] pass $p $q FAILED: $err")
      }
      sc.setLocalProperty(Probe.TagKey, null)
      val wallS = (System.nanoTime - t0) / 1e9
      val endMs = System.currentTimeMillis
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val heapPeak = heap.peakMb()
      if (tracedPass) probe.detach()
      val storedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      passes += Pass(p, tracedPass, startMs, endMs, wallS, cpuS, hostProbeS,
        storedMb, heapPeak, loadS, goldRun, goldCtas,
        (JvmTimes.gcMs - gc0) / 1e3, (JvmTimes.jitMs - jit0) / 1e3)
      System.err.println(f"[perfbench] pass $p traced=$tracedPass wall=$wallS%.3f s cpu=$cpuS%.3f s heap=$heapPeak%.0f MB")
      p += 1
    }
    spark.stop()

    // ---- report --------------------------------------------------------------
    val untracedPasses = passes.filterNot(_.traced).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val lat = execs.filter(e => untracedPasses.exists(_.idx == e.pass)).map(_.wallS).toSeq
        Seq(
          ("setup_s", Stats.median(setupS), "s"),
          ("pass_s", Stats.median(untracedPasses.map(_.wallS)), "s"),
          ("query_s.p90", Stats.quantile(lat, 0.9), "s"),
          ("pass_cpu_s", Stats.median(untracedPasses.map(_.cpuS)), "s"),
          ("heap_peak_mb", Stats.median(untracedPasses.map(_.heapPeakMb)), "MB"))
      } else Layers.metrics(probe, passes.toSeq, cores.toInt) :+
        (("jvm.cold_start_s", coldStartS, "s"))

    val failed = execs.count(!_.ok)
    val attempted = execs.size
    val outDir = Paths.get(work, "results")
    Files.createDirectories(outDir)
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    if (traced) Files.writeString(outDir.resolve(s"$tag.spans.jsonl"),
      Spans.render(workload, probe, passes.toSeq, execs.toSeq))
    val runtime = ManagementFactory.getRuntimeMXBean
    val record = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cores" -> cores, "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm_flags" -> Json.arr(runtime.getInputArguments.asScala.toSeq.map(Json.str)),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "setup_s" -> Json.arr(setupS.map(_.toString)), "warm_pass_s" -> Json.arr(warmS.map(_.toString)),
      "cold_start_s" -> coldStartS.toString,
      "passes" -> Json.arr(passes.toSeq.map(x => Json.obj(
        "idx" -> x.idx.toString, "traced" -> x.traced.toString, "wall_s" -> x.wallS.toString,
        "cpu_s" -> x.cpuS.toString, "host_probe_s" -> x.hostProbeS.toString,
        "stored_mb" -> x.storedMb.toString, "heap_peak_mb" -> x.heapPeakMb.toString,
        "gc_s" -> x.gcS.toString, "jit_s" -> x.jitS.toString))),
      "executions" -> Json.arr(execs.toSeq.map(e => Json.obj(
        "pass" -> e.pass.toString, "query" -> Json.str(e.query), "wall_s" -> e.wallS.toString,
        "ok" -> e.ok.toString, "error" -> Json.str(e.error)))),
      "metrics" -> metricsJson(metrics))
    Files.writeString(outDir.resolve(s"$tag.json"), record)
    println(Json.obj(
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsJson(metrics)))
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) => n -> Json.obj("value" -> v.toString, "unit" -> Json.str(u)) }: _*)

  final case class GoldTimes(runS: Double, ctasS: Double)

  /** A workload item: a registry query, or one of the reference pipeline's
    * stages driven through its public entry points against the bundled
    * BRFSS-shaped fixtures (the registry's own gold queries read those
    * fixtures from a fixed absolute path).
    */
  def runQuery(spark: SparkSession, registry: Map[String, (SparkSession, String) => DataFrame],
      q: String, data: String, fixtures: String, onGold: GoldTimes => Unit): DataFrame = q match {
    case "gold_csv" => flattenGold(GoldPipeline.run(spark, CsvSource(s"$fixtures/brfss.csv")))
    case "gold_api" => flattenGold(GoldPipeline.run(spark,
      PagedJsonSource(LocalFixturePageFetcher(s"$fixtures/brfss_pages"),
        limit = 150L, totalRecords = 400L)))
    case "gold_load" =>
      val r0 = System.nanoTime
      GoldPipeline.run(spark, CsvSource(s"$fixtures/brfss.csv"))
      val c0 = System.nanoTime
      val table = GoldPipeline.ctasGold(spark, "perfbench_gold")
      onGold(GoldTimes((c0 - r0) / 1e9, (System.nanoTime - c0) / 1e9))
      flattenGold(table)
    case _ => registry(q)(spark, data)
  }

  /** The registry's gold output shape: the geolocation struct as columns. */
  private def flattenGold(df: DataFrame): DataFrame = df
    .withColumn("geo_human_address", col("geolocation.human_address"))
    .withColumn("geo_latitude", col("geolocation.latitude"))
    .withColumn("geo_longitude", col("geolocation.longitude"))
    .drop("geolocation")
}
