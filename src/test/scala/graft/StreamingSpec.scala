package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, SessionOut}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  /** Run `body` with the RocksDB state store provider (the only provider
    * transformWithState supports) set on the shared session, restoring the
    * previous value afterwards so later suites keep the default provider.
    */
  private def withRocksDBProvider[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Names under the JVM temp dir that start with any of `prefixes`: a
    * store run's per-run scaffolding (slice replay, store, output spool,
    * checkpoint), diffed before/after a run to catch leaks.
    */
  private def scaffolding(prefixes: String*): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => prefixes.exists(n.startsWith)).toSet

  /** The smallest fixture scale, shared by the store-engine cases. */
  private val smallSf = "/root/testdata/sf0.001"

  test("watermarked tumbling counts finalize windows in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(input.toDF(), watermark = "10 minutes",
        win = "1 hour")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(61), 2, "view", 3.0))  // hour 2 starts
      q.processAllAvailable()
      input.addData(Event(4, ts(200), 2, "view", 4.0)) // advances watermark past hour 1
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select($"window_start", $"event_type", $"n", $"value_cents")
        .as[(Timestamp, String, Long, Long)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 300L)), s"got $rows")
      assert(rows.contains((ts(60), "view", 1L, 300L)), s"got $rows")
    } finally q.stop()
  }

  test("stateful sessionization closes sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10' apart (one session), then a 60' gap in a LATER
      // micro-batch — state must survive the batch boundary.
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(70), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(500), 1, "click", 1.0)) // flush sentinel
      q.processAllAvailable()
      val sessions = spark.table("sessions_out").as[SessionOut].collect().toSet
      assert(sessions.contains(SessionOut(1L, 0L, 10 * 60000L, 2L, 200L)), s"got $sessions")
      assert(sessions.contains(SessionOut(1L, 70 * 60000L, 70 * 60000L, 1L, 100L)), s"got $sessions")
    } finally q.stop()
  }

  test("transformWithState milestones: multi-variable state carries across batches, late events drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val input = MemoryStream[Event]
      val q = EventStreams.spendMilestones(input.toDS(), stepCents = 500L)
        .writeStream.format("memory").queryName("milestones_out")
        .outputMode(OutputMode.Append).start()
      try {
        // user 1: cum 200 then 450 in batch 1 — below the 500-cent step, so
        // the crossing depends entirely on state carried across the boundary
        input.addData(
          Event(1, ts(0), 1, "click", 2.0),
          Event(2, ts(10), 1, "purchase", 2.5))
        q.processAllAvailable()
        // batch 2: a LATE event (ts before the carried guard) that would
        // cross if spliced in — must be dropped; then the real crossing, and
        // user 2's single 1200-cent event jumping straight to k=2
        input.addData(
          Event(99, ts(5), 1, "click", 100.0),
          Event(3, ts(20), 1, "view", 1.0),
          Event(4, ts(20), 2, "purchase", 12.0))
        q.processAllAvailable()
        val rows = spark.table("milestones_out")
          .as[EventStreams.Milestone].collect().toSet
        val us20 = 20 * 60000L * 1000L
        assert(rows === Set(
          EventStreams.Milestone(1L, 1L, 550L, us20, 3L, 1L, 3L),
          EventStreams.Milestone(2L, 2L, 1200L, us20, 1L, 1L, 1L)), s"got $rows")
      } finally q.stop()
    }
  }

  test("transformWithState timers: activity postpones the flush; boundary expiry fires at watermark == expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val input = MemoryStream[Event]
      // gap 30', watermark delay 10'. Times start at 10' — TWS EventTime mode
      // drops input rows at-or-before the CURRENT watermark before they reach
      // the processor, and the initial watermark is epoch 0, so an event at
      // ts(0) would silently vanish (measured; this pin keeps it documented).
      val q = EventStreams.idleFlush(input.toDS(), gapMs = 30 * 60000L,
          watermark = "10 minutes")
        .writeStream.format("memory").queryName("idle_out")
        .outputMode(OutputMode.Append).start()
      def flushed() = spark.table("idle_out")
        .as[EventStreams.FlushOut].collect().toSet
      try {
        // b1: u1 twice, u2 once -> timers u1@50', u2@80'
        input.addData(
          Event(1, ts(10), 1, "click", 1.0),
          Event(2, ts(20), 1, "view", 2.0),
          Event(3, ts(50), 2, "purchase", 3.0))
        q.processAllAvailable()
        // b2: u1 active again -> timer MOVES 50'->100' (postponement; had the
        // old timer survived, u1 would flush EARLY with the 2-event profile).
        // The sentinel@110' advances the watermark to exactly 100' = u1's new
        // expiry — the strictness probe; u2's 80' timer is strictly behind it.
        input.addData(
          Event(4, ts(70), 1, "click", 4.0),
          Event(5, ts(110), 3, "view", 5.0))
        q.processAllAvailable()
        val atBoundary = flushed()
        assert(atBoundary.contains(EventStreams.FlushOut(2L, 1L, 50 * 60000L, 300L)),
          s"u2 must flush once its 80' timer is behind the 100' watermark: $atBoundary")
        assert(!atBoundary.exists(f => f.user_id == 1L && f.n_events < 3),
          s"u1 must never flush with the pre-postponement profile: $atBoundary")
        val boundaryFired = atBoundary.exists(_.user_id == 1L)
        // b3 advances wm to 190' -> u1 (timer 100') must be flushed by now,
        // with the POST-postponement profile
        input.addData(Event(6, ts(200), 5, "view", 6.0))
        q.processAllAvailable()
        assert(flushed().contains(EventStreams.FlushOut(1L, 3L, 70 * 60000L, 700L)),
          s"u1 flush must carry the postponed 3-event profile: ${flushed()}")
        // pin the boundary semantics the oracle of stream_idle_flush states:
        // expiry <= watermark fires (see IdleFlushProcessor doc)
        assert(boundaryFired,
          "timer with expiry == watermark did not fire; oracle strictness is wrong")
      } finally q.stop()
    }
  }

  test("transformWithState initial state: snapshot seeds profiles AND timers; streamed rows merge through them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val snapshot = Seq(
        EventStreams.UserSnapshot(1L, 2L, 10 * 60000L, 300L), // only in batch
        EventStreams.UserSnapshot(2L, 1L, 20 * 60000L, 500L)  // continues live
      ).toDS()
      val input = MemoryStream[Event]
      val q = EventStreams.warmStartIdleFlush(input.toDS(), snapshot,
          gapMs = 30 * 60000L, watermark = "10 minutes")
        .writeStream.format("memory").queryName("warm_out")
        .outputMode(OutputMode.Append).start()
      try {
        // u2 returns live (its seeded 50' timer must MOVE to 90'); u3 is
        // stream-only; the sentinel pushes the watermark to 90'
        input.addData(
          Event(1, ts(60), 2, "click", 4.0),
          Event(2, ts(100), 3, "view", 5.0))
        q.processAllAvailable()
        val rows = spark.table("warm_out")
          .as[EventStreams.FlushOut].collect().toSet
        assert(rows === Set(
          // u1 flushes from the snapshot-armed timer alone (40' <= 90'),
          // with the untouched snapshot profile
          EventStreams.FlushOut(1L, 2L, 10 * 60000L, 300L),
          // u2's profile merges snapshot + the live event; its timer moved,
          // so it flushes at 90' (boundary) with the MERGED profile
          EventStreams.FlushOut(2L, 2L, 60 * 60000L, 900L)), s"got $rows")
      } finally q.stop()
    }
  }

  test("stream-static broadcast enrichment joins the dim without shuffling the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val q = EventStreams.enrich(input.toDF(), dim)
      .select($"event_id", $"user_id", $"tier")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 3, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").as[(Long, Long, Option[String])]
        .collect().toSet
      assert(rows == Set((1L, 1L, Some("gold")), (2L, 3L, None)))
      // the title's "without shuffling the stream" claim, checked in the
      // PLAN (the broadcast hint could silently degrade to a shuffled join
      // and the row-level assertions above would still pass): same enrich
      // expression in batch mode must broadcast-hash-join, zero exchanges
      val batchPlan = EventStreams.enrich(
        Seq(Event(1, ts(0), 1L, "click", 1.0)).toDF(), dim)
      assert(batchPlan.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"), "enrich lost its broadcast join")
      assert(SparkTestSession.shuffleCount(batchPlan) === 0,
        "enrich shuffles the stream side")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to preceding clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.purchaseAttribution(input.toDF())
      .select($"purchase_id", $"click_id")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      // base offset: a ts-0 click sits exactly ON the initial watermark (0)
      // and stream-stream join state pre-filters it as late — epoch 0 is a
      // degenerate event time, not a join bug (batch twin emits both pairs).
      val base = 24 * 60L
      input.addData(
        Event(10, ts(base + 0), 1, "click", 0.0),   // within the hour → attributed
        Event(11, ts(base + 50), 1, "purchase", 9.99),
        Event(12, ts(base + 100), 2, "click", 0.0), // 90' before purchase → outside
        Event(13, ts(base + 190), 2, "purchase", 5.0),
        Event(14, ts(base + 185), 2, "click", 0.0)) // 5' before → attributed
      q.processAllAvailable()
      val rows = spark.table("attr_out").as[(Long, Long)].collect().toSet
      assert(rows == Set((11L, 10L), (13L, 14L)), s"got $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched clicks on watermark passage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.clickOutcomes(input.toDF(), watermark = "30 minutes")
      .select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("outcomes_out")
      .outputMode(OutputMode.Append).start()
    try {
      val base = 24 * 60L
      input.addData(
        Event(10, ts(base + 0), 1, "click", 0.0),    // converts at +30'
        Event(11, ts(base + 30), 1, "purchase", 9.99),
        Event(12, ts(base + 10), 2, "click", 0.0))   // never converts
      q.processAllAvailable()
      // push BOTH side watermarks far past click 12's horizon so the outer
      // null row can be finalized
      input.addData(
        Event(20, ts(base + 600), 9, "click", 0.0),
        Event(21, ts(base + 600), 9, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("outcomes_out")
        .as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((10L, Some(11L))), s"got $rows")
      assert(rows.contains((12L, None)), s"got $rows")
    } finally q.stop()
  }

  test("foreachBatch upsert sink maintains latest-value-per-user across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = SparkTestSession.tempDir("graft_upsert")
    val ckpt = SparkTestSession.tempDir("graft_upsert_ck")
    val input = MemoryStream[Event]
    val q = EventStreams.runUpsertSink(input.toDF(), table, ckpt).start()
    try {
      input.addData(
        Event(1, ts(10), 1, "view", 1.5),
        Event(2, ts(20), 2, "view", 2.5))
      q.processAllAvailable()
      input.addData(
        Event(3, ts(30), 1, "view", 9.9),  // newer value for user 1
        Event(4, ts(5), 2, "view", 0.1))   // OLDER event for user 2 → ignored
      q.processAllAvailable()
      val rows = EventStreams.readSnapshot(spark, table).get
        .select($"user_id", $"event_id", $"value")
        .as[(Long, Long, Double)].collect().toSet
      assert(rows === Set((1L, 3L, 9.9), (2L, 2L, 2.5)), s"got $rows")
      // versioned snapshots: both batch versions exist, pointer names the
      // newest; names are checkpoint-scoped (<ckptTag>-v<batchId>)
      assert(EventStreams.snapshotDir(table).get.endsWith("-v1"))
      val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(table))
        .iterator().asScala.map(_.getFileName.toString).toSet
      assert(dirs.exists(_.endsWith("-v0")), s"got $dirs")
    } finally q.stop()
  }

  test("additive MV sink merges partial aggregates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = SparkTestSession.tempDir("graft_mv")
    val ckpt = SparkTestSession.tempDir("graft_mv_ck")
    val input = MemoryStream[Event]
    val q = EventStreams.runAggSink(input.toDF(), table, ckpt).start()
    try {
      input.addData(
        Event(1, ts(10), 1, "click", 1.00),
        Event(2, ts(20), 2, "click", 2.00))
      q.processAllAvailable()          // v0: click day-0 -> (2, 300, 200)
      input.addData(
        Event(3, ts(30), 1, "click", 5.00),   // same group: must ADD
        Event(4, ts(40), 3, "view", 0.50))    // new group: must APPEAR
      q.processAllAvailable()
      val rows = EventStreams.readSnapshot(spark, table).get
        .select($"event_type", $"n", $"s", $"mx")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(rows == Set(("click", 3L, 800L, 500L), ("view", 1L, 50L, 50L)),
        s"got $rows")
      // both versions retained: the MV history time-travels like the upsert sink
      assert(EventStreams.snapshotVersions(table).map(_._1) == Seq(0L, 1L))
    } finally q.stop()
  }

  test("snapshot time travel: AS OF reads the floor version, immutable history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = SparkTestSession.tempDir("graft_tt")
    val ckpt = SparkTestSession.tempDir("graft_tt_ck")
    val input = MemoryStream[Event]
    val q = EventStreams.runUpsertSink(input.toDF(), table, ckpt).start()
    try {
      input.addData(Event(1, ts(10), 1, "view", 1.0))
      q.processAllAvailable()          // v0: user1 -> event 1
      input.addData(Event(2, ts(20), 1, "view", 2.0))
      q.processAllAvailable()          // v1: user1 -> event 2
      input.addData(Event(3, ts(30), 2, "view", 3.0))
      q.processAllAvailable()          // v2: + user2
      assert(EventStreams.snapshotVersions(table).map(_._1) == Seq(0L, 1L, 2L))
      def ids(v: Long) = EventStreams.readSnapshotAsOf(spark, table, v).get
        .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
      assert(ids(0) == Set((1L, 1L)))              // history is immutable
      assert(ids(1) == Set((1L, 2L)))
      assert(ids(2) == Set((1L, 2L), (2L, 3L)))
      assert(ids(99) == ids(2))                    // AS OF floors to newest ≤ v
      assert(EventStreams.readSnapshotAsOf(spark, table, -1L).isEmpty)
      // live read == newest version
      assert(EventStreams.readSnapshot(spark, table).get
        .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet == ids(2))
      // VACUUM analogue: keep the newest 2 versions, drop v0 — the pointer
      // target survives, reads before the horizon become unavailable
      assert(EventStreams.vacuumSnapshots(table, keepLast = 2) == Seq(0L))
      assert(EventStreams.snapshotVersions(table).map(_._1) == Seq(1L, 2L))
      assert(EventStreams.readSnapshotAsOf(spark, table, 0L).isEmpty)
      assert(ids(1) == Set((1L, 2L)))
      assert(EventStreams.readSnapshot(spark, table).get
        .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet == ids(2))
    } finally q.stop()
  }

  test("upsert sink: fresh checkpoint against a reused tablePath keeps old data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = SparkTestSession.tempDir("graft_upsert2")
    val ck1 = SparkTestSession.tempDir("graft_upsert2_ck1")
    val in1 = MemoryStream[Event]
    val q1 = EventStreams.runUpsertSink(in1.toDF(), table, ck1).start()
    try {
      in1.addData(Event(1, ts(10), 1, "view", 1.5))
      q1.processAllAvailable()
    } finally q1.stop()
    // a NEW checkpoint restarts batch ids at 0; the checkpoint-scoped guard
    // must not mistake this run's batch 0 for the old run's completed one
    val ck2 = SparkTestSession.tempDir("graft_upsert2_ck2")
    val in2 = MemoryStream[Event]
    val q2 = EventStreams.runUpsertSink(in2.toDF(), table, ck2).start()
    try {
      in2.addData(Event(2, ts(20), 2, "view", 2.5))
      q2.processAllAvailable()
      val rows = EventStreams.readSnapshot(spark, table).get
        .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
      assert(rows === Set((1L, 1L), (2L, 2L)), s"got $rows")
    } finally q2.stop()
  }

  test("checkpoint restart: window state survives a query stop/start") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the memory sink refuses checkpoint recovery — the file sink is the
    // recovery-capable one, so the restart goes through parquet output
    val ckpt = SparkTestSession.tempDir("graft_ckpt")
    val outDir = SparkTestSession.tempDir("graft_ckpt_out")
    val input = MemoryStream[Event]
    def start() =
      EventStreams.tumblingCounts(input.toDF(), watermark = "10 minutes",
          win = "1 hour")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
    val q1 = start()
    try {
      input.addData(Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // second query instance, same checkpoint: the hour-0 partial counts live
    // only in the recovered state store
    val q2 = start()
    try {
      input.addData(Event(3, ts(300), 2, "view", 4.0)) // advances watermark
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir)
        .select($"window_start", $"event_type", $"n", $"value_cents")
        .as[(Timestamp, String, Long, Long)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 300L)), s"got $rows")
    } finally {
      q2.stop()
      Seq(ckpt, outDir).foreach(graft.Tables.deleteTree)
    }
  }

  test("neardup gate: first-seen keeper is sticky across micro-batches") {
    import spark.implicits._
    import graft.streaming.DocumentStreams
    import graft.streaming.DocumentStreams.{BandRow, Collision}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[BandRow]
    val q = DocumentStreams.neardupGate(input.toDS())
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: doc 10 occupies bucket (en, 0, 42) — passes, becomes keeper
      input.addData(BandRow(10L, "en", 0, 42L))
      q.processAllAvailable()
      // batch 2: doc 5 (SMALLER id, the usurpation scenario) and doc 20
      // land in the same bucket — BOTH must be held; the keeper from the
      // earlier batch stays keeper regardless of id order
      input.addData(BandRow(5L, "en", 0, 42L), BandRow(20L, "en", 0, 42L))
      q.processAllAvailable()
      // batch 3: keeper still 10 — another arrival is held too
      input.addData(BandRow(7L, "en", 0, 42L))
      q.processAllAvailable()
      val held = spark.table("neardup_out").as[Collision].collect()
        .map(_.doc_id).toSet
      assert(held === Set(5L, 20L, 7L), s"got $held")
    } finally q.stop()
  }

  test("verified gate: multi-batch incremental run, held set == batch removable, precision/recall 100%") {
    // the two-tier gate's contract: the STREAMED held set must equal the
    // batch verified-LSH removable set doc for doc. Run the registry query
    // (3 range-ordered micro-batches against the accumulated store), then
    // recompute the removable set through the independent batch pipeline
    // and compare as sets — and require that the run really was
    // incremental (≥2 data batches), or the equality would be trivial.
    val sfDir = "/root/testdata/sf0.001"
    val prefixes = Seq("graft-ndv-", "graft-slice-",
      "graft-stream_neardup_verified-")
    val dirsBefore = scaffolding(prefixes: _*)
    val held = graft.ops.StreamingQueries.streamNeardupVerified
      .fn(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    // r11 ADVICE low: the run must clean up its five per-run temp dirs
    // (slice stage+replay, signature store, held spool, checkpoint)
    val leftover = scaffolding(prefixes: _*) -- dirsBefore
    assert(leftover.isEmpty,
      s"verified gate leaked temp scaffolding: $leftover")
    assert(graft.ops.StreamingQueries
      .lastRuns("stream_neardup_verified").dataBatches >= 2,
      "verified gate ran as a single batch — incremental claim not exercised")
    val removable = graft.ops.DedupQueries.dedupMinhashLsh.fn(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("canonical_id") <
        org.apache.spark.sql.functions.col("doc_id"))
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(removable.nonEmpty, "fixture has no removable docs — vacuous test")
    assert(held === removable,
      s"stream-held diverged from batch-removable: extra=${held -- removable}, missed=${removable -- held}")
    // held == removable IS 100% precision at 100% recall — the r10 gap
    // (47-65% recall) closed by the deferred verify tier
  }

  test("unordered replay: 100% precision with the recall floor vs the batch policy pinned") {
    // the interleaved (doc_id % 3) replay — arrival order inverts the id
    // order for many pairs, so the arrival-based keeper policy genuinely
    // diverges from the batch id-based one; this gate pins the contract:
    // precision stays exactly 100%, recall vs the batch removable set
    // stays above the floor (measured 98.0% at sf0.001, 96.9% at sf0.01)
    val rows = graft.ops.StreamingQueries.streamNeardupUnordered
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(graft.ops.StreamingQueries
      .lastRuns("stream_neardup_unordered").dataBatches >= 2,
      "unordered gate ran as a single batch — incremental claim not exercised")
    def total(c: String): Long = rows.map(_.getAs[Long](c)).sum
    val (nHeld, nHeldDup) = (total("n_held"), total("n_held_dup"))
    val (nRemovable, nCommon) = (total("n_removable"), total("n_common"))
    assert(nHeld > 0 && nRemovable > 0, "fixture has no near-dups — vacuous")
    // 100% PRECISION: every stream-held doc is a member of a verified pair
    assert(nHeldDup === nHeld,
      s"held a non-duplicate: $nHeldDup of $nHeld held docs are dup-involved")
    // the replay must actually exercise id-order inversion, or the recall
    // gate is vacuous (held == removable would be the ordered case)
    assert(nCommon < nHeld,
      "no id-order-dependent keeper choices occurred — replay not unordered?")
    val recallBp = 10000 * nCommon / nRemovable
    assert(recallBp >= 9000,
      s"arrival-policy recall $recallBp bp fell below the 90% floor")
  }

  test("ttl replay: physical bid drops bound the store; held set == window rule per doc") {
    import org.apache.spark.sql.functions._
    // the retention gate's contract, gated per DOC, not per count (review
    // finding: the query's own n_held + n_escaped == n_held_full is an
    // arithmetic identity and could never catch a window-filter bug that
    // holds a non-duplicate — per-doc equality with the independently
    // computed window-rule set gates precision AND recall at once): the
    // engine's held set must be exactly {later arrival of every verified
    // pair whose slice gap <= K}, expired bid partitions must be
    // PHYSICALLY dropped, and the window must genuinely expire something
    // on this fixture or the whole gate is vacuous
    val S = graft.ops.StreamingQueries
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val dropsBefore = S.retentionDrops.get()
    val held = S.neardupStoreRun(spark, "spec_ttl6", docs,
        S.stageDocModSlices(docs, 6), retainBatches = Some(2))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(S.retentionDrops.get() > dropsBefore,
      "no expired bid partition was physically dropped")
    assert(S.lastRuns("spec_ttl6").dataBatches >= 4,
      "6-slice replay ran fewer than 4 data batches — window not exercised")
    val pairs = graft.ops.DedupQueries.verifiedPairs(docs)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def earlierA(a: Long, b: Long): Boolean =
      a % 6 < b % 6 || (a % 6 == b % 6 && a < b)
    val fullHeld = pairs.map { case (a, b) =>
      if (earlierA(a, b)) b else a }.toSet
    val expected = pairs.collect { case (a, b)
        if (if (earlierA(a, b)) b % 6 - a % 6 else a % 6 - b % 6) <= 2 =>
      if (earlierA(a, b)) b else a }.toSet
    assert((fullHeld -- expected).nonEmpty,
      "window expired nothing — the TTL gate is vacuous on this fixture")
    assert(held === expected,
      s"held set diverged from the window rule: extra=${held -- expected}, missed=${expected -- held}")
  }

  test("late replay: event-bucket window rule per doc; lateness genuinely costs docs") {
    import org.apache.spark.sql.functions._
    // stream_neardup_late's engine contract, per DOC like the ttl gate
    // (its own n_late_escaped = n_held_ontime - n_held output is an
    // arithmetic identity — only an independently computed event-rule set
    // can catch a window bug): the held set must be exactly {later arrival
    // of every verified pair with a same-batch OR within-event-window
    // earlier partner}; it must be a strict SUBSET of the arrival-time
    // window rule's set (lateness only shrinks witness windows, and on
    // this fixture it must actually cost at least one doc or the axis is
    // vacuous); and recall vs the unbounded policy must hold the floor.
    val S = graft.ops.StreamingQueries
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val k = S.TtlWindowBatches
    val slip = S.LateSlipBatches
    val lateBid: Long => org.apache.spark.sql.Column = b =>
      if (b >= slip) when(col("doc_id") % 7 >= 4, lit(b - slip))
        .otherwise(lit(b))
      else lit(b)
    val held = S.neardupStoreRun(spark, "spec_late6", docs,
        S.stageDocModSlices(docs, 6), retainBatches = Some(k),
        eventBid = Some(lateBid))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(S.lastRuns("spec_late6").dataBatches >= 4,
      "6-slice replay ran fewer than 4 data batches — window not exercised")
    val pairs = graft.ops.DedupQueries.verifiedPairs(docs)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def late(x: Long): Boolean = x % 7 >= 4 && x % 6 >= slip
    def eb(x: Long): Long = if (late(x)) x % 6 - slip else x % 6
    def earlierA(a: Long, b: Long): Boolean =
      a % 6 < b % 6 || (a % 6 == b % 6 && a < b)
    def split(a: Long, b: Long): (Long, Long) =
      if (earlierA(a, b)) (a, b) else (b, a)
    val expectedLate = pairs.collect { case (a, b)
        if { val (e, l) = split(a, b)
             e % 6 == l % 6 || eb(e) >= l % 6 - k } =>
      split(a, b)._2 }.toSet
    val expectedOntime = pairs.collect { case (a, b)
        if { val (e, l) = split(a, b); l % 6 - e % 6 <= k } =>
      split(a, b)._2 }.toSet
    val fullHeld = pairs.map(p => split(p._1, p._2)._2).toSet
    assert(expectedLate.subsetOf(expectedOntime),
      "event rule held a doc the arrival rule would not — rule broken")
    assert((expectedOntime -- expectedLate).nonEmpty,
      "lateness cost no docs — the late axis is vacuous on this fixture")
    assert(held === expectedLate,
      s"held set diverged from the event-bucket rule: extra=${held -- expectedLate}, missed=${expectedLate -- held}")
    assert(fullHeld.nonEmpty &&
      10000 * expectedLate.size / fullHeld.size >= 9000,
      s"late recall ${10000 * expectedLate.size / fullHeld.size} bp below the 90% floor")
  }

  test("engine-wired compaction: 6-slice replay fires the pressure trigger, held set intact") {
    import org.apache.spark.sql.functions._
    // the 3-slice registry replays never reach the file-pressure
    // threshold (deliberately — see compactStoreBands); this replay's 6
    // interleaved slices push a touched bucket past CompactBucketFiles
    // at batch 3's start, so the engine compacts MID-stream and every
    // later batch's candidate reads run over the compacted store. A
    // row-corrupting rewrite would change the held set, which must equal
    // the arrival-rule set computed here independently from the batch
    // pair generator.
    val S = graft.ops.StreamingQueries
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val before = S.compactionsRun.get()
    val held = S.neardupStoreRun(spark, "spec_ndv6",
        docs, S.stageDocModSlices(docs, 6))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(S.compactionsRun.get() > before,
      "the 6-slice replay never fired the compaction pressure trigger")
    val expected = graft.ops.DedupQueries.verifiedPairs(docs)
      .select(col("a_id"), col("b_id")).collect()
      .map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        if (a % 6 < b % 6 || (a % 6 == b % 6 && a < b)) b else a
      }.toSet
    assert(held === expected,
      s"held set diverged over the compacted store: extra=${held -- expected}, missed=${expected -- held}")
  }

  test("band-store compaction: one file per bucket after N appends, rows identical") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the bucketed layout's small-files maintenance: each batch appends
    // one file per touched bucket, so a long stream's file count grows
    // per-batch; compaction must collapse every bucket dir to ONE file
    // without adding, dropping, or mutating a row — and the pruned read
    // path must keep working over the compacted layout
    val dir = java.nio.file.Files.createTempDirectory("graft-ndv-compact")
      .toString
    try {
      val S = graft.ops.StreamingQueries
      def mkBands(lo: Int) = (lo until lo + 256)
        .map(i => (i.toLong, "en", 16, i % 16, i.toLong))
        .toDF("doc_id", "lang", "w", "band", "bh")
        .withColumn("pb", S.bandBucket(col("band"), col("bh")))
      S.writeStoreBands(mkBands(0), dir)   // three "micro-batch" appends
      S.writeStoreBands(mkBands(256), dir)
      S.writeStoreBands(mkBands(512), dir)
      def rows() = spark.read.parquet(dir)
        .select($"doc_id", $"lang", $"band", $"bh", $"w", $"pb")
        .collect().map(_.toSeq).toSet
      def bucketFiles(): Seq[Int] = {
        val w16 = new java.io.File(s"$dir/w=16")
        Option(w16.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
          .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
          .toSeq
      }
      val before = rows()
      assert(bucketFiles().exists(_ >= 3), "appends did not accumulate files")
      S.compactStoreBands(spark, dir)
      assert(rows() === before, "compaction changed the store's rows")
      assert(bucketFiles().nonEmpty && bucketFiles().forall(_ === 1),
        s"buckets not compacted to one file each: ${bucketFiles()}")
      // the pruned read path still works over the compacted layout
      val some = spark.read.parquet(dir).select($"pb").distinct()
        .collect().map(_.getInt(0)).sorted.take(2).toSeq
      assert(S.readStoreBands(spark, dir, 16, some).count() > 0L)
    } finally graft.Tables.deleteTree(dir)
  }

  test("embedding dedup stream: held set == arrival rule over the batch verified pairs") {
    import org.apache.spark.sql.functions._
    // the semantic gate's contract, per VECTOR: the streamed held set must
    // equal the arrival-rule keeper over the BATCH pipeline's own verified
    // pair set (embVerifiedPairs, extracted from dedup_embedding_lsh — an
    // engine bug cannot vouch for itself), the replay must be genuinely
    // incremental, and the interleave must actually invert id order
    // somewhere or the arrival semantics are untested
    val sfDir = "/root/testdata/sf0.001"
    val prefixes = Seq("graft-emb-", "graft-slice-",
      "graft-stream_embdup_verified-")
    val dirsBefore = scaffolding(prefixes: _*)
    val held = graft.ops.StreamingQueries.streamEmbdupVerified
      .fn(spark, sfDir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val leftover = scaffolding(prefixes: _*) -- dirsBefore
    assert(leftover.isEmpty, s"embdup stream leaked temp scaffolding: $leftover")
    assert(graft.ops.StreamingQueries
      .lastRuns("stream_embdup_verified").dataBatches >= 2,
      "embdup gate ran as a single batch — incremental claim not exercised")
    // the REGISTRY width: auto-derived from the corpus count, exactly as
    // both the batch query and the stream derive it
    val pairs = graft.ops.VectorQueries.embVerifiedPairs(spark, sfDir,
        graft.ops.VectorQueries.autoEmbBits(
          graft.Tables.load(spark, sfDir, "embeddings").count()))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture has no embedding near-dups — vacuous")
    def earlierA(a: Long, b: Long): Boolean =
      a % 3 < b % 3 || (a % 3 == b % 3 && a < b)
    val expected = pairs.map { case (a, b) =>
      if (earlierA(a, b)) b else a }.toSet
    val removable = pairs.map(_._2).toSet // the id-order policy's set
    assert(expected !== removable,
      "interleave never inverted id order — arrival semantics untested")
    assert(held === expected,
      s"held set diverged from the arrival rule: extra=${held -- expected}, missed=${expected -- held}")
  }

  test("curate quota stream: every doc gets one verdict, no temp scaffolding left") {
    val sfDir = smallSf
    val prefixes = Seq("graft-scq-", "graft-slice-",
      "graft-stream_curate_quota-")
    val dirsBefore = scaffolding(prefixes: _*)
    val rows = graft.ops.StreamingQueries.streamCurateQuota.fn(spark, sfDir)
      .collect()
    val leftover = scaffolding(prefixes: _*) -- dirsBefore
    assert(leftover.isEmpty, s"curate stream leaked temp scaffolding: $leftover")
    assert(graft.ops.StreamingQueries
      .lastRuns("stream_curate_quota").dataBatches >= 2,
      "curate gate ran as a single batch — cross-batch state not exercised")
    val nDocs = graft.Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    // the budget binds and the fp store catches cross-batch dups
    val verdicts = rows.map(_.getAs[String]("verdict")).toSet
    assert(Set("4_dup", "5_quota", "6_kept").subsetOf(verdicts), s"$verdicts")
  }

  test("stream runs: one record per query under its registry name") {
    val S = graft.ops.StreamingQueries
    S.lastRuns = Map.empty
    Seq(S.streamTumbling, S.snapshotAsof, S.streamCurateQuota)
      .foreach(_.fn(spark, smallSf).collect())
    assert(S.lastRuns.keySet ===
      Set("stream_tumbling", "snapshot_asof", "stream_curate_quota"))
    S.lastRuns.foreach { case (name, run) =>
      assert(run.execSec > 0.0, s"$name: no micro-batch exec time")
      assert(run.dataBatches >= 1, s"$name: no batch carried rows")
    }
    // AvailableNow honours maxFilesPerTrigger: one batch per slice file
    assert(S.lastRuns("snapshot_asof").dataBatches === 3)
  }

  test("stream runs: a rejected conf restores every conf it touched, leaves no checkpoint dir") {
    val S = graft.ops.StreamingQueries
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val partitions = "spark.sql.shuffle.partitions"
    val before = Seq(provider, partitions).map(k => k -> spark.conf.getOption(k))
    val dirsBefore = scaffolding("graft-spec_badconf-")
    var wrote = false
    intercept[IllegalArgumentException] {
      S.streamRun(spark, "spec_badconf", Map(
          provider -> ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider"),
          partitions -> "x")) { _ =>
        wrote = true
        sys.error("the run must fail before its query is built")
      }(_ => spark.emptyDataFrame)
    }
    assert(!wrote)
    assert(Seq(provider, partitions).map(k => k -> spark.conf.getOption(k)) ===
      before)
    assert(scaffolding("graft-spec_badconf-") -- dirsBefore === Set.empty[String])
  }

  test("stageSlices: one file per slice of events, strictly increasing mtimes") {
    import org.apache.spark.sql.functions.col
    val S = graft.ops.StreamingQueries
    val ev = graft.Tables.load(spark, smallSf, "events")
    val dir = S.stageSlices(ev, 3, col("event_id") % 3)
    try {
      val files = new java.io.File(dir).listFiles().sortBy(_.getName).toSeq
      assert(files.map(_.getName) ===
        Seq("slice-0.parquet", "slice-1.parquet", "slice-2.parquet"))
      val mtimes = files.map(_.lastModified)
      assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
        s"mtimes not strictly increasing: $mtimes")
      files.zipWithIndex.foreach { case (f, i) =>
        assert(spark.read.parquet(f.toString)
          .filter(col("event_id") % 3 =!= i).count() === 0L,
          s"slice $i holds another slice's rows")
      }
      assert(spark.read.parquet(dir).count() === ev.count())
    } finally graft.Tables.deleteTree(dir)
  }

  test("pipelined store: a failed batch-0 write fails the run with its cause, leaves no dirs, stops the writer") {
    import org.apache.spark.sql.functions._
    val S = graft.ops.StreamingQueries
    val docs = graft.Tables.load(spark, smallSf, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val incoming = S.stageDocModSlices(docs, 3)
    val before = scaffolding("graft-specfail-")
    val boom = new RuntimeException("injected store-write failure")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val err = intercept[Exception] {
      S.storeStreamRun(spark, "spec_storefail", "specfail", docs.schema,
          incoming, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType)))) {
        (batch, batchId, store, outDir) =>
          seen += batchId
          // a store read waits for the previous batch's write: batch 1
          // must fail here, before its own write is submitted
          new java.io.File(store.dir("t")).exists()
          batch.select(col("doc_id")).write.mode("append").parquet(outDir)
          store.submit(batch.sparkSession, batchId) { at =>
            if (batchId == 0) throw boom
            batch.sparkSession.range(1).write.mode("append").parquet(at("t"))
          }
      }.count()
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.contains(boom), s"failure lost its cause: $causes")
    assert(seen.toSeq === Seq(0L, 1L),
      s"the failed write did not stop the run at batch 1's read: $seen")
    assert(!new java.io.File(incoming).exists(), "slice replay dir left")
    assert(scaffolding("graft-specfail-") -- before === Set.empty[String])
    val writers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "spec_storefail-storewrite" && t.isAlive)
    assert(writers.isEmpty, "the writer thread outlived its run")
  }

  test("pipelined store: submit keeps an un-awaited failure; batch ids must not resume") {
    val root = java.nio.file.Files.createTempDirectory("graft-specstore")
      .toString
    val store = new graft.ops.PipelinedStore("spec_store", root, 4)
    try {
      store.begin(0L)
      val boom = new RuntimeException("first write failed")
      store.submit(spark, 0L)(_ => throw boom)
      // a newer submit must surface the older failure, not replace it
      val err = intercept[IllegalStateException] {
        store.submit(spark, 0L)(_ => ())
      }
      assert(err.getCause eq boom)
      store.await() // surfaced once; the store is usable again
      // a run resumed from a checkpoint would start past batch 0
      intercept[IllegalArgumentException](store.begin(2L))
      store.begin(1L)
    } finally {
      store.close()
      graft.Tables.deleteTree(root)
    }
  }

  test("shared slice memo: ttl then late leave the staged dir in place and both read it") {
    val S = graft.ops.StreamingQueries
    val sfDir = smallSf
    S.streamNeardupTtl.fn(spark, sfDir).collect()
    val shared = S.sharedSliceDirs.asScala.toSet
    assert(shared.nonEmpty && shared.forall(new java.io.File(_).isDirectory),
      s"ttl run did not leave its shared slice dir: $shared")
    val late = S.streamNeardupLate.fn(spark, sfDir).collect()
    assert(S.sharedSliceDirs.asScala.toSet === shared,
      "late staged its own slices instead of reading the memo")
    assert(shared.forall(d =>
        new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet")) >= 6),
      "a store run deleted (part of) the shared slice dir")
    assert(S.lastRuns("stream_neardup_late").dataBatches === 6,
      "late did not replay all six shared slices")
    assert(late.map(_.getAs[Long]("n_held")).sum > 0L)
  }

  test("store engines: join regimes are plan-invariant; -1 threshold parses negative") {
    import org.apache.spark.sql.functions._
    val S = graft.ops.StreamingQueries
    val sfDir = "/root/testdata/sf0.001"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val orig = spark.conf.get(key)
    try {
      // the -1 sentinel must parse NEGATIVE: byteStringAsBytes alone
      // throws on the sign, and the old silent 10 MB fallback un-disabled
      // the hinted regime in exactly the sessions that asked for it
      // (r17 review finding)
      spark.conf.set(key, "-1")
      assert(S.sessionBroadcastThreshold(spark) == -1L)
      spark.conf.set(key, "10MB")
      assert(S.sessionBroadcastThreshold(spark) == 10L * 1024 * 1024)
      spark.conf.set(key, "1048576")
      assert(S.sessionBroadcastThreshold(spark) == 1048576L)
      // tiny threshold → big-corpus AND oversized-batch regimes fire in
      // both engines (SHUFFLE_HASH candidate joins + the linear verify
      // fallback: batch side attached first, no broadcast). The held
      // sets are SEMANTICS and must not move with the plan regime.
      def embHeld(): Set[Long] = S.streamEmbdupVerified.fn(spark, sfDir)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      def textHeld(): Set[(Long, Int)] =
        S.streamNeardupVerified.fn(spark, sfDir)
          .select(col("doc_id"), col("tier")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
      spark.conf.set(key, "1024")
      val (embTiny, textTiny) = (embHeld(), textHeld())
      // oversized-batch regime: shrink the explicit-broadcast feasibility
      // cap so the verify joins take the linear SHUFFLE_HASH fallback
      // (threshold still tiny → candidate joins stay SHUFFLE_HASH too)
      System.setProperty("graft.maxBatchBroadcastBytes", "1024")
      val (embFallback, textFallback) = (embHeld(), textHeld())
      System.clearProperty("graft.maxBatchBroadcastBytes")
      spark.conf.set(key, orig)
      val (embDefault, textDefault) = (embHeld(), textHeld())
      for ((got, name) <- Seq((embTiny, "embdup shj"),
          (embFallback, "embdup linear-fallback"))) {
        assert(got == embDefault,
          s"$name held set moved with the join regime: " +
            s"extra=${got -- embDefault} missed=${embDefault -- got}")
      }
      for ((got, name) <- Seq((textTiny, "text shj"),
          (textFallback, "text linear-fallback"))) {
        assert(got == textDefault,
          s"$name held set moved with the join regime: " +
            s"extra=${got -- textDefault} missed=${textDefault -- got}")
      }
      assert(embDefault.nonEmpty && textDefault.nonEmpty,
        "fixture produced empty held sets — invariance check is vacuous")
    } finally {
      System.clearProperty("graft.maxBatchBroadcastBytes")
      spark.conf.set(key, orig)
    }
  }

  test("sig-table compaction: geometric trigger collapses files, rows identical, marker gates recompaction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the r14 endurance finding's fix: the flat sig table gained one file
    // per batch with no maintenance. The geometric compactor must (a) not
    // fire below SigCompactMinFiles, (b) collapse the files without
    // adding/dropping/mutating a row, (c) record the post-rewrite count in
    // the marker so the NEXT fire waits for 2× growth instead of running
    // a full-table rewrite every batch
    val dir = java.nio.file.Files.createTempDirectory("graft-ndv-sigc")
      .toString + "/sigs"
    try {
      val S = graft.ops.StreamingQueries
      def mkSigs(lo: Int) = (lo until lo + 16)
        .map(i => (i.toLong, "en", Array.fill(4)(i.toLong)))
        .toDF("doc_id", "lang", "sig")
        .coalesce(1) // one file per append, like a replay micro-batch
      def rows() = spark.read.parquet(dir)
        .select($"doc_id", $"lang", $"sig")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getSeq[Long](2))).toSet
      def files() = S.countParquetFiles(dir)
      (0 until S.SigCompactMinFiles - 1)
        .foreach(i => S.writeStoreSigs(mkSigs(i * 16), dir))
      S.maybeCompactStoreSigs(spark, dir)
      assert(files() === S.SigCompactMinFiles - 1,
        "compactor fired below the minimum file pressure")
      S.writeStoreSigs(mkSigs(256), dir)
      val before = rows()
      S.maybeCompactStoreSigs(spark, dir)
      assert(files() < S.SigCompactMinFiles, s"files not collapsed: ${files()}")
      assert(rows() === before, "sig compaction changed the table's rows")
      val compacted = files()
      // marker gate: another immediate pass must NOT rewrite again
      S.maybeCompactStoreSigs(spark, dir)
      assert(files() === compacted,
        "compactor re-fired without 2x growth — marker not honored")
      assert(rows() === before)
    } finally graft.Tables.deleteTree(
      new java.io.File(dir).getParent)
  }

  test("endurance: 24-batch replays hold the store bounds (TTL flat, compaction sawtooth)") {
    import org.apache.spark.sql.functions._
    // the r13 verdict's top ask: the O(window)/bounded-file claims had
    // only ever been observed over 3-6 batches — indistinguishable from
    // warmup. Replay 24 interleaved slices through BOTH configs and gate
    // the file-count trajectories (full per-batch wall tables live in
    // BASELINE.md via tools.StoreEndurance; wall is not gated here — CI
    // hosts drift, file counts do not).
    val S = graft.ops.StreamingQueries
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val k = S.TtlWindowBatches
    def run(mode: String): Seq[S.BatchStats] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[S.BatchStats]
      S.neardupStoreRun(spark, s"spec_endure_$mode", docs,
        S.stageDocModSlices(docs, 24),
        retainBatches = if (mode == "ttl") Some(k) else None,
        onBatch = Some(buf += _)).count()
      buf.toSeq
    }
    val ttl = run("ttl")
    assert(ttl.size === 24, s"expected 24 batches, saw ${ttl.size}")
    // every batch records the engine's stage timings, writer stages last
    assert(ttl.forall(_.stageMs.map(_._1) ==
      Seq("sig", "bands", "touch", "plan", "held", "bwrite", "swrite")),
      s"stage records: ${ttl.map(_.stageMs)}")
    val warm = ttl.drop(k + 1)
    // TTL: the window bounds the store regardless of stream life — at most
    // k+1 live bids, each holding at most one file per (w, pb) dir / one
    // sig file (measured steady state: 2 bids x ~32 dirs after the
    // post-batch drop)
    assert(warm.map(_.bandFiles).max <= (k + 1) * 2 * S.StoreBuckets,
      s"TTL band files exceed the window bound: ${warm.map(_.bandFiles).max}")
    assert(warm.map(_.sigFiles).max <= k + 1,
      s"TTL sig files exceed the window bound: ${warm.map(_.sigFiles).max}")
    // plateau, not growth: the last third is no higher than the first
    // post-warmup third
    assert(ttl.takeRight(8).map(_.bandFiles).max <=
      warm.take(8).map(_.bandFiles).max,
      "TTL band file count still growing in the last third of the replay")
    // physical expiry genuinely ran ~every post-warmup batch (2 stores)
    assert(ttl.last.drops - ttl.head.drops >= 2L * (24 - k - 2),
      s"too few physical bid drops: ${ttl.last.drops - ttl.head.drops}")
    val comp = run("compact")
    assert(comp.size === 24)
    // compaction: sawtooth bounded — a bucket dir accumulates at most
    // CompactBucketFiles before the pressure trigger rewrites it to one
    assert(comp.map(_.bandFiles).max <=
      2 * S.StoreBuckets * (S.CompactBucketFiles + 1),
      s"compaction band files exceed the pressure bound: ${comp.map(_.bandFiles).max}")
    assert(comp.last.compactions - comp.head.compactions >= 2L,
      "band compaction fired fewer than 2 times over 24 batches")
    // sig table: geometric compactor holds the flat table at or below the
    // pressure floor (+1 for the append landing after a trigger check)
    assert(comp.map(_.sigFiles).max <= S.SigCompactMinFiles + 1,
      s"sig files exceed the geometric bound: ${comp.map(_.sigFiles).max}")
    assert(comp.map(_.sigFiles).last < comp.map(_.sigFiles).max,
      "sig compaction never brought the file count back down")
    assert(comp.last.sigCompactions - comp.head.sigCompactions >= 1L,
      "the geometric sig compactor never fired over 24 batches")
  }

  test("store readers tolerate a marker-only dir (zero-row batch wrote only _SUCCESS)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a zero-row micro-batch's append still creates the store dir with
    // only a _SUCCESS marker; a listFiles-nonEmpty probe then routes the
    // next batch into a schema-less read that throws schema-inference
    // errors (review finding — the refactor to hive partition discovery
    // lost the explicit-schema immunity the old reader had)
    val dir = java.nio.file.Files.createTempDirectory("graft-ndv-empty")
      .toString
    try {
      val S = graft.ops.StreamingQueries
      val empty = Seq.empty[(Long, String, Int, Int, Long)]
        .toDF("doc_id", "lang", "w", "band", "bh")
        .withColumn("pb", S.bandBucket(col("band"), col("bh")))
      S.writeStoreBands(empty, s"$dir/bands")
      S.writeStoreSigs(Seq.empty[(Long, String, Seq[Long])]
        .toDF("doc_id", "lang", "sig"), s"$dir/sigs")
      assert(S.readStoreBands(spark, s"$dir/bands", 16, Seq(0, 1))
        .count() === 0L)
      assert(S.readStoreSigs(spark, s"$dir/sigs").count() === 0L)
    } finally graft.Tables.deleteTree(dir)
  }

  test("band store: per-batch reads partition-prune to the touched buckets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the verified-dedup store's scale contract: the candidate join's
    // store scan must OPEN only the bucket dirs the batch's band keys hash
    // into — a plan whose bucket filter degraded to a post-scan data
    // filter would silently re-read the whole store every batch
    val dir = java.nio.file.Files.createTempDirectory("graft-ndv-prune")
      .toString
    try {
      val S = graft.ops.StreamingQueries
      val bands = (0 until 512)
        .map(i => (i.toLong, "en", 16, i % 16, i.toLong))
        .toDF("doc_id", "lang", "w", "band", "bh")
        .withColumn("pb", S.bandBucket(col("band"), col("bh")))
      S.writeStoreBands(bands, dir) // two appends = two micro-batches:
      S.writeStoreBands(bands, dir) // files accumulate per bucket dir
      val buckets = bands.select($"pb").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(buckets.size >= 3, "fixture keys landed in <3 buckets")
      val two = buckets.take(2)
      val pruned = S.readStoreBands(spark, dir, 16, two)
      // collect() drives pruned's OWN QueryExecution — count() would spin
      // up a separate plan and leave this one's scan metrics at zero
      assert(pruned.collect().length.toLong ===
        bands.filter($"pb".isin(two.map(Integer.valueOf): _*)).count() * 2)
      val scan = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.metadata("PartitionFilters").contains("pb"),
        s"bucket filter did not land in PartitionFilters: ${scan.metadata}")
      def filesUnder(p: java.io.File): Int =
        Option(p.listFiles()).getOrElse(Array.empty).map { f =>
          if (f.isDirectory) filesUnder(f)
          else if (f.getName.endsWith(".parquet")) 1 else 0
        }.sum
      val filesTotal = filesUnder(new java.io.File(dir))
      val filesTouched = two.map(b =>
        filesUnder(new java.io.File(s"$dir/w=16/pb=$b"))).sum
      val filesRead = scan.metrics("numFiles").value
      assert(filesRead === filesTouched.toLong && filesRead < filesTotal,
        s"scan read $filesRead files; expected the $filesTouched under the " +
          s"2 matched buckets, store holds $filesTotal")
    } finally graft.Tables.deleteTree(dir)
  }

  test("dropDuplicatesWithinWatermark suppresses re-delivered event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF(), watermark = "1 hour")
      .select($"event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(1, ts(2), 1, "click", 1.0)) // re-delivery, same id
      q.processAllAvailable()
      val ids = spark.table("dedup_out").as[Long].collect().toList
      assert(ids.sorted == List(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("file-source stream over the events parquet matches batch day counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stream through the PRODUCTION read path (schema sniff + ts-era
    // adaptation live in streamEvents; an inline copy here silently
    // diverged from it once the adaptation evolves)
    val stream = graft.ops.StreamingQueries
      .streamEvents(spark, "/root/testdata/sf0.001")
      .select($"ts", $"event_type", $"value")
    val q = EventStreams.tumblingCounts(stream, watermark = "1 hour", win = "1 day")
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_out")
        .select($"window_start", $"event_type", $"n").as[(Timestamp, String, Long)]
        .collect().toSet
      val batchAll = EventStreams.tumblingCounts(
          Tables.load(spark, "/root/testdata/sf0.001", "events")
            .select($"ts", $"event_type", $"value"))
        .select($"window_start", $"event_type", $"n").as[(Timestamp, String, Long)]
        .collect().toSet
      // append mode emits exactly the windows whose END the final
      // watermark (max event time − 1h) has passed — assert EQUALITY with
      // that batch-computed set, not just subset/nonEmpty: a regression
      // that held back almost everything used to slip through
      // Spark tracks event-time stats in MILLISECONDS — compute the final
      // watermark in the same domain (ms, truncating) so the boundary
      // predicate matches the engine's own emission rule (end ≤ watermark)
      val maxTsMs = Tables.load(spark, "/root/testdata/sf0.001", "events")
        .agg(max(unix_millis($"ts"))).head.getLong(0)
      val watermarkMs = maxTsMs - 3600L * 1000L
      val expected = batchAll.filter { case (winStart, _, _) =>
        winStart.getTime + 86400L * 1000L <= watermarkMs // day window end
      }
      assert(expected.nonEmpty, "fixture too small: no finalized windows")
      assert(streamed === expected,
        s"streamed ${streamed.size} windows, expected ${expected.size} finalized")
    } finally q.stop()
  }

  test("transformWithState ListState: pattern buffer carries across batches and trims") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDBProvider {
      val input = MemoryStream[Event]
      val q = input.toDS()
        .groupByKey(_.user_id)
        .transformWithState(new RecentTypesProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
        .writeStream.format("memory").queryName("patterns_out")
        .outputMode(OutputMode.Append).start()
      try {
        // u1's prefix lands in batch 1; the purchase that reads it back
        // arrives in batch 2 — the buffer must survive the boundary
        input.addData(
          Event(1, ts(10), 1, "click", 1.0),
          Event(2, ts(20), 1, "view", 1.0))
        q.processAllAvailable()
        // u2's 5-event run is single-batch: the buffer must TRIM to the last
        // 3 types before its purchase
        input.addData(
          Event(3, ts(30), 1, "error", 1.0),
          Event(4, ts(40), 1, "purchase", 1.0),
          Event(5, ts(10), 2, "click", 1.0),
          Event(6, ts(20), 2, "click", 1.0),
          Event(7, ts(30), 2, "view", 1.0),
          Event(8, ts(40), 2, "signup", 1.0),
          Event(9, ts(50), 2, "purchase", 1.0))
        q.processAllAvailable()
        val rows = spark.table("patterns_out").as[(Long, String)].collect().toSet
        assert(rows === Set(
          (1L, "click>view>error"),
          (2L, "click>view>signup")), s"got $rows")
      } finally q.stop()
    }
  }

  test("a repeated streaming query reuses its generated classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    // every start streams on a clone of the session with a new UUID; with
    // session artifact isolation on, each clone got its own executor class
    // loader and recompiled all of its codegen (see LocalSession)
    def run(): Set[(Timestamp, String, Long)] = {
      val q = EventStreams.tumblingCounts(graft.ops.StreamingQueries
          .streamEvents(spark, "/root/testdata/sf0.001")
          .select($"ts", $"event_type", $"value"), watermark = "1 hour", win = "1 day")
        .writeStream.format("memory").queryName("codegen_reuse_out")
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("codegen_reuse_out")
        .select($"window_start", $"event_type", $"n").as[(Timestamp, String, Long)]
        .collect().toSet
    }
    val first = run()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    assert(second === first)
    assert(compiles == 0, s"the second run compiled $compiles generated classes")
  }
}

/** Spec fixture pinning the LISTSTATE primitive — the one state type the
  * production processors don't use (ValueState: both flush processors and
  * milestones; MapState: milestones): a per-user buffer of the last 3 event
  * types, emitted as a `>`-joined pattern at each purchase. `put` rewrites
  * the trimmed buffer; `get` replays it next batch.
  */
class RecentTypesProcessor extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, EventStreams.Event, (Long, String)] {
  @transient private var recent: org.apache.spark.sql.streaming.ListState[String] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    recent = getHandle.getListState[String]("recent",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(userId: Long,
      rows: Iterator[EventStreams.Event],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, String)] = {
    val sorted = rows.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
    var buf = if (recent.exists()) recent.get().toVector else Vector.empty[String]
    val out = Seq.newBuilder[(Long, String)]
    for (e <- sorted) {
      if (e.event_type == "purchase" && buf.nonEmpty)
        out += ((userId, buf.mkString(">")))
      buf = (buf :+ e.event_type).takeRight(3)
    }
    recent.put(buf.toArray)
    out.result().iterator
  }
}
