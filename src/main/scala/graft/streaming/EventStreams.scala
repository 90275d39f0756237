package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo,
  GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues,
  ValueState}

/** Structured-Streaming surface (SURVEY §2.4 "streaming — ABSENT from the
  * reference"): event-time tumbling aggregation with watermarked late-data
  * handling, and custom stateful sessionization via
  * `flatMapGroupsWithState` — the streaming twins of the batch queries
  * `events_tumbling` / `events_sessionize`, sharing their semantics so batch
  * backfill and live streams produce the same tables.
  */
object EventStreams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long, value_cents: Long)

  /** Keyed state record (public: the state-store encoder codegen needs
    * constructor access from generated classes).
    */
  case class OpenSession(startMs: Long, endMs: Long, n: Long, cents: Long)

  /** Watermarked tumbling counts: accepts a streaming OR batch DataFrame with
    * (ts, event_type, value); on a stream, late events beyond `watermark` are
    * dropped and windows finalize in append mode.
    */
  def tumblingCounts(events: DataFrame, watermark: String = "1 hour",
      win: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_cents"))

  /** Streaming HOPPING (sliding) window aggregate: width 6 h, slide 3 h —
    * every event lands in exactly two overlapping windows, so the state
    * store holds width/slide copies per group and append-mode emission
    * still waits for each window's END to pass the watermark. The overlap
    * factor is the knob that trades smoothness for state size at scale
    * (state rows = groups × width/slide).
    */
  def slidingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("value_cents"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("value_cents"))

  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Last event seen per user — the carry-over state for [[transitions]]. */
  case class LastEvent(ms: Long, eventId: Long, eventType: String)

  /** Stateful SEQUENCE EXTRACTION: emit one (from→to) transition per
    * consecutive event pair per user, across micro-batch boundaries — the
    * streaming feeder of the batch `events_markov` transition matrix. The
    * per-user state is ONE record (the last event seen), so state size is
    * O(users) regardless of history length — the pattern for any
    * "compare each event with the previous one" feature (deltas, dwell
    * times, transition counts) on a live stream.
    *
    * Ordering contract: exactness vs the batch lead() window holds when
    * micro-batch boundaries respect per-user event-time order (true for the
    * single-batch AvailableNow runs that gate this, and for any source that
    * partitions by user and preserves time order). A LATE event — one whose
    * (ms, event_id) sorts at or before the state's last event — arriving in
    * a later batch would otherwise fabricate transitions the batch window
    * never produces, so it is DROPPED explicitly here (the one-record state
    * cannot splice it into history; dropping is the bounded-state policy,
    * the same trade watermarked dedup makes). Within a batch, events are
    * sorted, so intra-batch disorder is always repaired.
    */
  def transitions(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[LastEvent]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = Seq.newBuilder[Transition]
          var last = state.getOption
          for (e <- sorted) {
            val isLate = last.exists(l =>
              l.ms > e.ts.getTime ||
                (l.ms == e.ts.getTime && l.eventId >= e.event_id))
            if (!isLate) {
              last.foreach(l => out += Transition(userId, l.eventType, e.event_type))
              last = Some(LastEvent(e.ts.getTime, e.event_id, e.event_type))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Stream-static enrichment: join a live event stream against a broadcast
    * dimension snapshot. The static side is re-broadcast per micro-batch, so
    * at scale the dim must stay broadcast-sized (or switch to a keyed state
    * join); the stream side never shuffles.
    */
  def enrich(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left_outer")

  /** Stream-stream interval join: pair each purchase with the same user's
    * clicks in the preceding hour. Both sides are watermarked so the state
    * store can evict rows once the event-time bound passes — without the
    * watermarks this state grows without bound. Equi key: user_id; range:
    * click.ts ∈ [purchase.ts - 1h, purchase.ts].
    */
  def purchaseAttribution(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
        col("click_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"), col("value"))
  }

  /** Stream-stream LEFT OUTER interval join — the attribution question asked
    * from the click side: did each click convert within the hour? Unmatched
    * clicks can only be emitted once the purchase-side watermark proves no
    * match can still arrive, so the null rows appear on watermark passage —
    * the outer-join-on-streams semantics that trips up naive ports. Same
    * eviction story as [[purchaseAttribution]]: both sides watermarked, the
    * time constraint bounds state.
    */
  def clickOutcomes(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
        col("user_id") === col("click_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("click_user"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("value"))
  }

  /** Watermarked streaming dedup: drop event_id re-deliveries that arrive
    * within the watermark horizon — the at-least-once → exactly-once
    * compaction step. State is one key per id inside the horizon and is
    * evicted by event time (plain dropDuplicates on a stream would keep ids
    * forever).
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Resolve the current snapshot directory maintained by [[runUpsertSink]]
    * under `tablePath` (None before the first committed batch).
    */
  def snapshotDir(tablePath: String): Option[String] = {
    val ptr = java.nio.file.Paths.get(tablePath, "_LATEST")
    if (!java.nio.file.Files.exists(ptr)) None
    else Some(s"$tablePath/${java.nio.file.Files.readString(ptr).trim}")
  }

  /** Read the current upsert snapshot (None before the first batch). */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Option[DataFrame] =
    snapshotDir(tablePath).map(spark.read.parquet(_))

  private val VersionDirName = """.*-v(\d+)""".r

  /** All retained snapshot versions under `tablePath`, (batchId, dir),
    * ascending. [[runUpsertSink]] writes each batch to a fresh
    * `<ckptTag>-v<batchId>` directory and never deletes old ones, so the
    * full version history is on disk — this is what makes time travel a
    * pure read. (A retention sweep would drop versions older than N here;
    * Delta's VACUUM analogue.)
    */
  def snapshotVersions(tablePath: String): Seq[(Long, String)] =
    Option(new java.io.File(tablePath).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(f => f.getName match {
        case VersionDirName(n) => Some((f.lastModified, n.toLong, f.getAbsolutePath))
        case _ => None
      })
      // CREATION order, not batch id: version names are checkpoint-scoped
      // (<ckptTag>-v<batchId>) and a fresh checkpoint on a reused tablePath
      // restarts batch ids at 0 — sorting by id alone would interleave the
      // new run's v0 among the old run's history (and vacuum could then
      // drop the LIVE version as "oldest"). Version dirs are written once
      // and never touched again, so mtime IS creation order; batch id
      // breaks ties within a tag's same-millisecond writes.
      .sortBy { case (mtime, n, _) => (mtime, n) }
      .map { case (_, n, dir) => n -> dir }

  /** TIME-TRAVEL read: the snapshot AS OF batch `asOfBatch` — the greatest
    * retained version ≤ the requested one, Delta `VERSION AS OF` semantics
    * over the plain-parquet versioned sink (the native stand-in for the
    * reference's `USING DELTA` table format, `Spatially ETL test.py:237`).
    * None if no version that old exists.
    */
  def readSnapshotAsOf(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, asOfBatch: Long): Option[DataFrame] =
    snapshotVersions(tablePath).takeWhile(_._1 <= asOfBatch).lastOption
      .map { case (_, dir) => spark.read.parquet(dir) }

  /** RETENTION sweep — Delta's VACUUM analogue for the versioned sink:
    * delete all but the newest `keepLast` snapshot versions. The `_LATEST`
    * pointer target is always within the kept suffix (it names the highest
    * version), so a concurrent reader following the pointer is never
    * broken; time travel older than the retention horizon becomes
    * unavailable, exactly Delta's contract. Returns the dropped batch ids.
    */
  def vacuumSnapshots(tablePath: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must retain at least the live version")
    val versions = snapshotVersions(tablePath)
    // Belt-and-braces on top of creation-order listing: never delete the
    // directory `_LATEST` currently points to, whatever the ordering says.
    val live = snapshotDir(tablePath)
    val drop = versions.dropRight(keepLast)
      .filterNot { case (_, dir) =>
        live.exists(l => java.nio.file.Paths.get(l).toAbsolutePath ==
          java.nio.file.Paths.get(dir).toAbsolutePath)
      }
    drop.foreach { case (_, dir) =>
      val root = java.nio.file.Paths.get(dir)
      // children first, then the version dir itself
      val files = java.nio.file.Files.walk(root).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try files.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally files.close()
    }
    drop.map(_._1)
  }

  /** foreachBatch ADDITIVE-merge sink — the streaming half of incremental
    * materialized-view maintenance (batch twin: `mv_incremental_agg`): each
    * micro-batch reduces to its per-(event_type, day) partial aggregate —
    * count/sum/max, the distributive sufficient statistics — and is merged
    * into the existing MV snapshot by ONE full-outer join on the group keys
    * (counts and sums ADD, max takes greatest). Versioned directories,
    * atomic `_LATEST` pointer swap, and the checkpoint-scoped
    * idempotent-recovery guard follow [[runUpsertSink]]'s protocol exactly —
    * but the guard is ESSENTIAL here, not belt-and-braces: an additive merge
    * applied twice double-counts (the upsert sink's argmax re-merge happens
    * to be idempotent; sum is not). Refresh cost per batch is |batch| rows
    * plus an O(groups) merge — independent of how much history the MV
    * already aggregates, which is the whole point at 100 TB. Like
    * [[runUpsertSink]], returns the writer unstarted.
    */
  /** Checkpoint-scoped version-name tag shared by both versioned sinks:
    * SHA-256 prefix of the absolute checkpoint path (see [[runUpsertSink]]
    * for why versions are scoped to the checkpoint, not just the batch id).
    */
  private def ckptTag(checkpoint: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Paths.get(checkpoint).toAbsolutePath.toString
        .getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString

  /** The versioned-snapshot COMMIT PROTOCOL shared by both sinks: skip when
    * `_LATEST` already names this version (idempotent recovery — the
    * previous attempt completed both the write and the repoint; rewriting
    * would read from and overwrite the same directory), else write the
    * merged snapshot to the fresh version dir and atomically swap the
    * pointer. `merged` is by-name so its plan is only built (and `existing`
    * only read through the pointer) when the write actually happens.
    */
  private def commitVersionedSnapshot(tablePath: String, version: String)(
      merged: => DataFrame): Unit =
    if (!snapshotDir(tablePath).contains(s"$tablePath/$version")) {
      merged.write.mode("overwrite").parquet(s"$tablePath/$version")
      val tmp = java.nio.file.Paths.get(tablePath, "_LATEST.tmp")
      java.nio.file.Files.writeString(tmp, version)
      java.nio.file.Files.move(tmp,
        java.nio.file.Paths.get(tablePath, "_LATEST"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  def runAggSink(events: DataFrame, tablePath: String,
      checkpoint: String): DataStreamWriter[Row] = {
    val tag = ckptTag(checkpoint)
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        commitVersionedSnapshot(tablePath, s"$tag-v$batchId") {
          val centsCol = floor(col("value") * 100 + lit(0.5)).cast("long")
          val part = batch
            .groupBy(col("event_type"),
              date_format(col("ts"), "yyyy-MM-dd").as("day"))
            .agg(count(lit(1)).as("n"), sum(centsCol).as("s"),
              max(centsCol).as("mx"))
          val existing = readSnapshot(spark, tablePath).getOrElse(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], part.schema))
          existing.as("a")
            .join(part.as("b"), Seq("event_type", "day"), "full_outer")
            .select(col("event_type"), col("day"),
              (coalesce(col("a.n"), lit(0L)) + coalesce(col("b.n"), lit(0L)))
                .as("n"),
              (coalesce(col("a.s"), lit(0L)) + coalesce(col("b.s"), lit(0L)))
                .as("s"),
              greatest(coalesce(col("a.mx"), col("b.mx")),
                coalesce(col("b.mx"), col("a.mx"))).as("mx"))
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
  }

  /** foreachBatch upsert sink — the production pattern for "maintain a
    * latest-value-per-key table" when the sink has no native MERGE: each
    * micro-batch reduces to its per-user latest row (max of struct(ts, id,
    * value) — the aggregate-path argmax), merges with the existing snapshot,
    * keeps the newest version per user, writes the result to a NEW versioned
    * directory `v<batchId>`, and atomically repoints the `_LATEST` pointer
    * file. Readers resolving through [[readSnapshot]] never observe a
    * half-written snapshot, and the previous version stays intact until the
    * pointer moves — the overwrite-in-place hazard (recompute of an evicted
    * block reading the directory being rewritten) cannot occur. foreachBatch
    * re-delivers a batch on recovery; the one non-idempotent corner is a
    * crash AFTER the pointer moved to this batch's version but BEFORE the
    * checkpoint commit — the redelivery would then lazily read `existing`
    * from that version and overwrite that same directory mid-read. Guarded
    * below: if the pointer already names this batch's version, the batch's
    * effect is fully applied and the redelivery is a no-op. Version names
    * are scoped to the CHECKPOINT (`<ckptTag>-v<batchId>`), not just the
    * batch id: a fresh checkpoint pointed at a reused tablePath restarts
    * batch ids at 0, and an unscoped `v0` guard would silently drop that
    * run's first batch (and its write would collide with the old run's
    * directories). With the tag, a recovery of the SAME checkpoint still
    * matches the guard, while a new run merges cleanly on top of the old
    * snapshot under fresh directory names. (An ACID table format would
    * subsume the pointer dance; this is the plain-parquet equivalent.)
    * Returns the writer unstarted, checkpoint set: the caller picks the
    * trigger and starts it.
    */
  def runUpsertSink(events: DataFrame, tablePath: String,
      checkpoint: String): DataStreamWriter[Row] = {
    val tag = ckptTag(checkpoint)
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        commitVersionedSnapshot(tablePath, s"$tag-v$batchId") {
          val latest = batch
            .groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
            .select(col("user_id"), col("m.ts").as("ts"),
              col("m.event_id").as("event_id"), col("m.value").as("value"))
          val existing = readSnapshot(spark, tablePath).getOrElse(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], latest.schema))
          existing.unionByName(latest)
            .groupBy(col("user_id"))
            .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
            .select(col("user_id"), col("m.ts").as("ts"),
              col("m.event_id").as("event_id"), col("m.value").as("value"))
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
  }

  /** [[sessionize]] upgraded with EVENT-TIME TIMEOUT: the production flush
    * path. Each open session arms a timeout at `endMs + gapMs`; when the
    * watermark passes it, Spark calls the function once more for that key
    * with `state.hasTimedOut` set and no rows, and the session emits even
    * though no further event for that user ever arrived. Output = sessions
    * closed by an observed gap PLUS sessions flushed by watermark passage;
    * only sessions still inside the watermark horizon remain in state.
    */
  def sessionizeWithTimeout(events: Dataset[Event], gapMs: Long,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.startMs, s.endMs, s.n, s.cents))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[SessionOut]
            var open = state.getOption
            for (e <- sorted) {
              val ms = e.ts.getTime
              val cents = math.floor(e.value * 100 + 0.5).toLong
              open match {
                case Some(s) if ms - s.endMs <= gapMs =>
                  open = Some(s.copy(endMs = ms, n = s.n + 1, cents = s.cents + cents))
                case Some(s) =>
                  closed += SessionOut(userId, s.startMs, s.endMs, s.n, s.cents)
                  open = Some(OpenSession(ms, ms, 1L, cents))
                case None =>
                  open = Some(OpenSession(ms, ms, 1L, cents))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Gap-based sessionization with explicit keyed state: one [[OpenSession]]
    * per user held in the state store; a gap > `gapMs` closes and emits the
    * session. State is O(users), partition-local after the user_id shuffle —
    * the scalable shape for billions of events.
    *
    * Sessions still open when the stream ends stay in state (flush by feeding
    * a sentinel beyond the gap, or switch to EventTimeTimeout + watermark in
    * production).
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val closed = Seq.newBuilder[SessionOut]
          var open = state.getOption
          for (e <- sorted) {
            val ms = e.ts.getTime
            val cents = math.floor(e.value * 100 + 0.5).toLong
            open match {
              case Some(s) if ms - s.endMs <= gapMs =>
                open = Some(s.copy(endMs = ms, n = s.n + 1, cents = s.cents + cents))
              case Some(s) =>
                closed += SessionOut(userId, s.startMs, s.endMs, s.n, s.cents)
                open = Some(OpenSession(ms, ms, 1L, cents))
              case None =>
                open = Some(OpenSession(ms, ms, 1L, cents))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** One spend-milestone crossing: the user's running profile at the event
    * that pushed cumulative cents across a `stepCents` multiple.
    */
  case class Milestone(user_id: Long, milestone_k: Long, cum_cents: Long,
      us: Long, n_events: Long, n_purchases: Long, n_types: Long)

  /** Carry-over for [[SpendMilestoneProcessor]]: cumulative cents, event
    * count, and the (µs, event_id) late-event guard. Public for the
    * state-store encoder codegen, like [[OpenSession]].
    */
  case class SpendAcc(cents: Long, n: Long, lastUs: Long, lastId: Long)

  /** Event-time epoch MICROSECONDS. `Timestamp.getTime` is ms-truncated —
    * the sub-ms remainder lives in the nanos field — and the events fixture
    * carries µs precision, so any per-user ordering must compare µs or it
    * can disagree with the oracle's `ORDER BY ts`.
    */
  private def eventUs(e: Event): Long =
    e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L

  /** Arbitrary stateful processing on the Spark 4 `transformWithState`
    * API — the successor of `flatMapGroupsWithState` used by the rest of
    * this battery. The capability FMGWS lacks and this pins: MULTIPLE
    * independently-typed state variables per key, managed by name in the
    * state store (FMGWS forces everything into one state value):
    *
    *   - `ValueState[SpendAcc]` — running cents + count + late-event guard;
    *   - `MapState[String, Long]` — per-event-type counts, a keyed
    *     sub-structure the store can read/write per entry instead of
    *     rewriting one blob per key per batch.
    *
    * Emits one [[Milestone]] per event that pushes a user's cumulative
    * cents across a `stepCents` multiple, with the running profile
    * (n_events, n_purchases from the map, n_types = map cardinality) AT the
    * crossing. State is O(users × event types); requires the RocksDB state
    * store provider (the only provider transformWithState supports).
    *
    * Ordering contract (same as [[transitions]]): exact vs the batch
    * cumulative window when micro-batch boundaries respect per-user
    * event-time order — true for the single-batch AvailableNow runs that
    * gate this. A cross-batch LATE event (≤ the guard's last (µs, id)) is
    * DROPPED: the scalar state cannot splice it into an already-emitted
    * running sum. Within a batch, rows are sorted, so intra-batch disorder
    * is always repaired.
    */
  class SpendMilestoneProcessor(stepCents: Long)
      extends StatefulProcessor[Long, Event, Milestone] {
    @transient private var acc: ValueState[SpendAcc] = _
    @transient private var typeCounts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      acc = getHandle.getValueState[SpendAcc]("acc",
        Encoders.product[SpendAcc], TTLConfig.NONE)
      typeCounts = getHandle.getMapState[String, Long]("typeCounts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[Milestone] = {
      val sorted = rows.toIndexedSeq.sortBy(e => (eventUs(e), e.event_id))
      var a = if (acc.exists()) acc.get()
              else SpendAcc(0L, 0L, Long.MinValue, Long.MinValue)
      // local working copy of the per-type counts: one store read per
      // existing entry at entry, one write per TOUCHED type at exit —
      // not one round-trip per event, and untouched types are never
      // rewritten (per-entry writes are the point of MapState over a
      // single-blob state value)
      val seen = scala.collection.mutable.Map.empty[String, Long]
      typeCounts.iterator().foreach { case (t, n) => seen(t) = n }
      val touched = scala.collection.mutable.Set.empty[String]
      val out = Seq.newBuilder[Milestone]
      for (e <- sorted) {
        val us = eventUs(e)
        val late = a.lastUs > us || (a.lastUs == us && a.lastId >= e.event_id)
        if (!late) {
          val next = a.cents + math.floor(e.value * 100 + 0.5).toLong
          seen(e.event_type) = seen.getOrElse(e.event_type, 0L) + 1L
          touched += e.event_type
          if (next / stepCents > a.cents / stepCents)
            out += Milestone(userId, next / stepCents, next, us, a.n + 1,
              seen.getOrElse("purchase", 0L), seen.size.toLong)
          a = SpendAcc(next, a.n + 1, us, e.event_id)
        }
      }
      acc.update(a)
      touched.foreach(t => typeCounts.updateValue(t, seen(t)))
      out.result().iterator
    }
  }

  /** Per-user spend-milestone stream ([[SpendMilestoneProcessor]]); batch
    * twin: a cumulative-sum window filtered to rows whose running total
    * crosses a `stepCents` boundary.
    */
  def spendMilestones(events: Dataset[Event],
      stepCents: Long = 100000L): Dataset[Milestone] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SpendMilestoneProcessor(stepCents),
        TimeMode.None(), OutputMode.Append())
  }

  /** One idle-flushed user profile: emitted when the event-time watermark
    * passes the user's last activity + the idle gap.
    */
  case class FlushOut(user_id: Long, n_events: Long, last_ms: Long,
      cents: Long)

  /** Carry-over for [[IdleFlushProcessor]]: the running per-user profile
    * plus the last-activity ms that keys the armed timer.
    */
  case class IdleAcc(n: Long, lastMs: Long, cents: Long)

  /** EVENT-TIME TIMERS on the transformWithState API — the second new
    * capability next to [[SpendMilestoneProcessor]]'s multi-variable state:
    * explicit `registerTimer`/`deleteTimer` bookkeeping replaces FMGWS's
    * single implicit timeout slot (`setTimeoutTimestamp`), and expiry is
    * delivered through the dedicated `handleExpiredTimer` callback instead
    * of a `hasTimedOut` flag threaded through the data path.
    *
    * Semantics: each input batch advances the user's profile and re-arms
    * ONE timer at lastMs + gapMs (the previous timer is deleted — activity
    * postpones the flush). When the watermark passes the armed expiry, the
    * profile is emitted and state cleared; a user who returns later starts
    * a fresh profile. This is the inactivity-triggered state-flush shape
    * (publish a quiet entity's profile, close an abandoned cart, expire a
    * session) — O(users) state and exactly one armed timer per live key.
    *
    * Timer strictness (pinned in StreamingSpec): a timer fires when the
    * watermark reaches its expiry — `expiryMs <= watermarkMs` — so a user
    * whose lastMs + gapMs equals the final watermark IS flushed.
    *
    * Late-row filtering (also measured + pinned): unlike FMGWS, which hands
    * the processor every row, transformWithState in EventTime mode DROPS
    * input rows at-or-before the current watermark before the processor
    * sees them. The initial watermark is epoch 0, so this only bites
    * epoch-adjacent test data, never the fixtures — but a processor ported
    * from FMGWS must not re-implement its own late-drop on top.
    */
  /** The idle-flush state machine, shared by [[IdleFlushProcessor]] and its
    * warm-started twin — one body so the handoff query cannot drift from
    * the cold-start semantics it claims to reproduce.
    */
  private object IdleFlushSteps {
    def openState(handle: org.apache.spark.sql.streaming.StatefulProcessorHandle)
        : ValueState[IdleAcc] =
      handle.getValueState[IdleAcc]("idle", Encoders.product[IdleAcc],
        TTLConfig.NONE)

    def onRows(acc: ValueState[IdleAcc],
        handle: org.apache.spark.sql.streaming.StatefulProcessorHandle,
        gapMs: Long, rows: Iterator[Event]): Iterator[FlushOut] = {
      val events = rows.toIndexedSeq
      val prev = if (acc.exists()) Some(acc.get()) else None
      prev.foreach(p => handle.deleteTimer(p.lastMs + gapMs))
      val a = IdleAcc(
        prev.map(_.n).getOrElse(0L) + events.size,
        math.max(prev.map(_.lastMs).getOrElse(Long.MinValue),
          events.iterator.map(_.ts.getTime).max),
        prev.map(_.cents).getOrElse(0L) +
          events.iterator.map(e => math.floor(e.value * 100 + 0.5).toLong).sum)
      acc.update(a)
      handle.registerTimer(a.lastMs + gapMs)
      Iterator.empty
    }

    def onExpired(acc: ValueState[IdleAcc], userId: Long): Iterator[FlushOut] = {
      val a = acc.get()
      acc.clear()
      Iterator.single(FlushOut(userId, a.n, a.lastMs, a.cents))
    }
  }

  class IdleFlushProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, FlushOut] {
    @transient private var acc: ValueState[IdleAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = IdleFlushSteps.openState(getHandle)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[FlushOut] =
      IdleFlushSteps.onRows(acc, getHandle, gapMs, rows)

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[FlushOut] =
      IdleFlushSteps.onExpired(acc, userId)
  }

  /** [[IdleFlushProcessor]] with INITIAL STATE — the third
    * transformWithState surface after state variables and timers: the
    * batch-backfill → live-stream handoff. `handleInitialState` seeds each
    * user's profile from a batch-computed snapshot (and arms the idle timer
    * from the snapshot's last activity) BEFORE the first micro-batch;
    * streamed rows then merge through the exact same state machine. The
    * contract worth an oracle: warm-start + streamed-suffix produces the
    * SAME flushed profiles as replaying the whole history through the
    * stream — the Kappa-architecture equivalence, stated as one hash.
    */
  class WarmStartIdleFlushProcessor(gapMs: Long)
      extends StatefulProcessorWithInitialState[Long, Event, FlushOut, IdleAcc] {
    @transient private var acc: ValueState[IdleAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = IdleFlushSteps.openState(getHandle)

    override def handleInitialState(userId: Long, initial: IdleAcc,
        timers: TimerValues): Unit = {
      acc.update(initial)
      getHandle.registerTimer(initial.lastMs + gapMs)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[FlushOut] =
      IdleFlushSteps.onRows(acc, getHandle, gapMs, rows)

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[FlushOut] =
      IdleFlushSteps.onExpired(acc, userId)
  }

  /** Inactivity-flush stream ([[IdleFlushProcessor]]): watermarked input,
    * event-time TimeMode so timers track the watermark, append output of
    * flushed profiles only.
    */
  def idleFlush(events: Dataset[Event], gapMs: Long,
      watermark: String = "1 hour"): Dataset[FlushOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new IdleFlushProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** One per-user batch snapshot row for the warm-start handoff. */
  case class UserSnapshot(user_id: Long, n: Long, lastMs: Long, cents: Long)

  /** Inactivity-flush with warm-started state
    * ([[WarmStartIdleFlushProcessor]]): `snapshot` seeds the per-user
    * profiles (the batch-backfill side of the handoff), `events` streams
    * the suffix.
    */
  def warmStartIdleFlush(events: Dataset[Event],
      snapshot: Dataset[UserSnapshot], gapMs: Long,
      watermark: String = "1 hour"): Dataset[FlushOut] = {
    import events.sparkSession.implicits._
    val initial = snapshot.groupByKey(_.user_id)
      .mapValues(s => IdleAcc(s.n, s.lastMs, s.cents))
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new WarmStartIdleFlushProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append(), initial)
  }
}
