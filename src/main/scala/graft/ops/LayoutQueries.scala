package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.load

/** Physical-layout operators — the 100 TB concerns that live OUTSIDE the
  * query: how rows are clustered into files decides how much of the table a
  * selective scan must read. Both queries are pure integer arithmetic, so
  * the layout math itself is oracle hash-verified.
  */
object LayoutQueries {

  /** Morton (Z-order) interleave of the low `bits` bits of x and y. */
  private def morton(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }

  private def mortonSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Z-order clustering audit (the OPTIMIZE ZORDER layout step): interleave
    * two join/filter dimensions into a Morton key, cut the keyspace into
    * 256 contiguous z-ranges (= target files), and measure each range's
    * bounding box over the ORIGINAL dimensions. Z-ordering keeps both
    * per-file extents small simultaneously — which is what lets min/max
    * file stats skip on either predicate column; a single-column sort would
    * make the other column's extent span the full domain. The audit output
    * (per-range row count + 2-D extents) is the evidence, hash-verified.
    */
  val layoutZorder = QueryDef(
    "layout_zorder",
    (spark, dir) => {
      val d = load(spark, dir, "lineitem").select(
        (col("l_partkey") % 1024).as("x"), (col("l_suppkey") % 1024).as("y"))
      d.withColumn("z", morton(col("x"), col("y"), 10))
        .withColumn("zrange", expr("z DIV 4096")) // 2^20 keyspace / 256 files
        .groupBy(col("zrange"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .withColumn("extent",
          col("max_x") - col("min_x") + col("max_y") - col("min_y"))
        .orderBy(col("zrange"))
    },
    Some(s"""
      WITH d AS (
        SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y FROM lineitem),
      z AS (
        SELECT x, y, ${mortonSql("x", "y", 10)} AS z FROM d)
      SELECT z // 4096 AS zrange, COUNT(*) AS n_rows,
             MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             MAX(x) - MIN(x) + MAX(y) - MIN(y) AS extent
      FROM z
      GROUP BY z // 4096
      ORDER BY zrange"""))

  /** Data-skipping audit: the same table laid out by VALUE RANGE (sorted on
    * ship date, 30-day buckets ≈ files from repartitionByRange +
    * sortWithinPartitions) vs by HASH (knuth(orderkey) mod 64 ≈ unclustered
    * writes), evaluated against a 3-month predicate. A min/max-stats reader
    * scans only the buckets containing matching rows: range layout touches
    * the few buckets overlapping the window, hash layout touches all of
    * them. rows_scanned / rows_matching quantifies the difference — the
    * reason sorted layout is non-negotiable at 100 TB.
    */
  val layoutSkipping = QueryDef(
    "layout_skipping",
    (spark, dir) => {
      val epoch = lit("1970-01-01").cast("date")
      val d = load(spark, dir, "lineitem").select(
        datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("day"),
        pmod(col("l_orderkey") * lit(2654435761L), lit(4294967296L)).mod(64)
          .as("hash_b"))
        .withColumn("range_b", expr("day DIV 30"))
        .withColumn("pred",
          (col("day") >= datediff(lit("1995-01-01").cast("date"), epoch) &&
           col("day") <  datediff(lit("1995-04-01").cast("date"), epoch))
            .cast("long"))
      def audit(layout: String, bucket: Column) = d.groupBy(bucket.as("b"))
        .agg(count(lit(1)).as("n"), sum(col("pred")).as("n_match"))
        .agg(lit(layout).as("layout"),
          count(lit(1)).as("n_buckets"),
          sum(when(col("n_match") > 0, 1L).otherwise(0L)).as("n_hit_buckets"),
          sum(when(col("n_match") > 0, col("n")).otherwise(0L)).as("rows_scanned"),
          sum(col("n_match")).as("rows_matching"))
      audit("range", col("range_b")).unionByName(audit("hash", col("hash_b")))
        .orderBy(col("layout"))
    },
    Some("""
      WITH d AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day,
               ((l_orderkey * 2654435761) % 4294967296) % 64 AS hash_b
        FROM lineitem),
      f AS (
        SELECT day // 30 AS range_b, hash_b,
               CASE WHEN day >= date_diff('day', DATE '1970-01-01', DATE '1995-01-01')
                     AND day <  date_diff('day', DATE '1970-01-01', DATE '1995-04-01')
                    THEN 1 ELSE 0 END AS pred
        FROM d),
      r AS (
        SELECT range_b AS b, COUNT(*) AS n, CAST(SUM(pred) AS BIGINT) AS n_match
        FROM f GROUP BY range_b),
      h AS (
        SELECT hash_b AS b, COUNT(*) AS n, CAST(SUM(pred) AS BIGINT) AS n_match
        FROM f GROUP BY hash_b)
      SELECT 'hash' AS layout, COUNT(*) AS n_buckets,
             CAST(SUM(CASE WHEN n_match > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_buckets,
             CAST(SUM(CASE WHEN n_match > 0 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
             CAST(SUM(n_match) AS BIGINT) AS rows_matching
      FROM h
      UNION ALL
      SELECT 'range' AS layout, COUNT(*) AS n_buckets,
             CAST(SUM(CASE WHEN n_match > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_buckets,
             CAST(SUM(CASE WHEN n_match > 0 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
             CAST(SUM(n_match) AS BIGINT) AS rows_matching
      FROM r
      ORDER BY layout"""))

  /** Small-file compaction planner (the OPTIMIZE bin-packing step): from a
    * per-file inventory (simulated here as 50-doc file groups with byte
    * sizes), assign files to merge groups by running-size bucketing — the
    * same window-cumsum shape as sequence packing, applied to file stats.
    * The plan is per-source (compaction never merges across partitions) and
    * emits each group's file count, rows and bytes — what an OPTIMIZE
    * scheduler submits as one merge task. Operates on the INVENTORY (one
    * row per file), so at 100 TB the planning input is millions of rows,
    * not the data itself.
    */
  val layoutCompaction = QueryDef(
    "layout_compaction",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val files = load(spark, dir, "documents")
        .groupBy(col("source"), expr("doc_id DIV 50").as("file_id"))
        .agg(count(lit(1)).as("rows"),
          sum(col("n_chars").cast("long")).as("bytes"))
      val w = Window.partitionBy(col("source")).orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files.withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("merge_group", expr("(cum - bytes) DIV 8000"))
        .groupBy(col("source"), col("merge_group"))
        .agg(count(lit(1)).as("n_files"), sum(col("rows")).as("rows"),
          sum(col("bytes")).as("bytes"))
        .orderBy(col("source"), col("merge_group"))
    },
    Some("""
      WITH files AS (
        SELECT source, doc_id // 50 AS file_id, COUNT(*) AS rows,
               CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY source, doc_id // 50),
      c AS (
        SELECT source, file_id, rows, bytes,
               SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM files)
      SELECT source, CAST((cum - bytes) // 8000 AS BIGINT) AS merge_group,
             COUNT(*) AS n_files, CAST(SUM(rows) AS BIGINT) AS rows,
             CAST(SUM(bytes) AS BIGINT) AS bytes
      FROM c
      GROUP BY source, CAST((cum - bytes) // 8000 AS BIGINT)
      ORDER BY source, merge_group"""))

  /** Dynamic partition pruning, exercised for real: the events table is
    * written out day-partitioned (the Hive-style layout a 100 TB fact lives
    * in), then joined to a small filtered day dimension on the RAW
    * partition column — the dim filter (`day(...) % 10 = 5`, 3 of 30 days)
    * is not statically pushable through the join, so Catalyst inserts a
    * `dynamicpruning` subquery into the fact scan's PartitionFilters and
    * 27 of 30 partition directories are never opened. The join key must
    * stay the untouched partition attribute (any expression over it kills
    * DPP — the reformat to a display string happens post-join), and the
    * dim is broadcast, so the pruning subquery reuses the broadcast
    * exchange. DppSpec pins `dynamicpruning` in the executed plan; the
    * oracle computes the same join from the raw table.
    */
  /** Stable per-(sfDir, JVM) scratch location: layout queries rewrite real
    * tables into a laid-out copy, and a fresh temp dir per invocation
    * accumulates one full data copy per bench/verify iteration (plus, for
    * the bucketed tables, permanent catalog entries). One deterministic dir
    * per (prefix, sf dir, process), overwritten in place, bounds the
    * footprint at one copy per fixture per JVM — the pid component keeps
    * two concurrent JVMs on the same fixture (test suite + bench/verify)
    * from overwriting each other's laid-out tables mid-query, and a
    * shutdown hook reclaims the copy so dead pids don't accumulate.
    */
  private def stableTmp(prefix: String, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(java.nio.file.Paths.get(dir).toAbsolutePath.toString
        .getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // dead-pid sweep: the shutdown hook below never runs on SIGKILL /
    // OOM-kill, so orphaned copies from crashed JVMs are reclaimed here,
    // on the next use of ANY fixture — without it each killed bench/verify
    // JVM would leak one fixture-sized dir permanently
    val orphan = s"^${java.util.regex.Pattern.quote(prefix)}-[0-9a-f]+-p([0-9]+)$$".r
    // age gate: pid liveness alone can strand a dir forever if the OS
    // recycles a crashed JVM's pid to an unrelated long-lived process — any
    // prefix-matched dir untouched for 2+ days is reclaimed regardless
    val cutoff = System.currentTimeMillis() - 2L * 24 * 60 * 60 * 1000
    val listing = java.nio.file.Files.list(tmpRoot)
    try listing.forEach { sib =>
      sib.getFileName.toString match {
        case orphan(pid) =>
          val handle = ProcessHandle.of(pid.toLong)
          val pidDead = !handle.map[Boolean](_.isAlive).orElse(false)
          // age alone must NOT reclaim: a live long-running owner's dir can
          // sit for days (reads don't bump dir mtime) and deleting it
          // mid-scan breaks that JVM. Staleness only disambiguates pid
          // RECYCLING: if the process now holding the pid started AFTER the
          // dir last changed, it cannot be the owner.
          val mtime = scala.util.Try(
            java.nio.file.Files.getLastModifiedTime(sib).toMillis)
          val stale = mtime.map(_ < cutoff).getOrElse(false)
          val recycled = mtime.toOption.exists(mt =>
            handle.map[Boolean](h => h.info().startInstant()
              .map[Boolean](si => si.toEpochMilli > mt)
              .orElse(false)).orElse(false))
          if (pidDead || (stale && recycled))
            graft.Tables.deleteTree(sib.toString)
        case _ => ()
      }
    } finally listing.close()
    val p = tmpRoot.resolve(s"$prefix-$key-p${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(p)
    if (cleanupRegistered.add(p.toString))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => graft.Tables.deleteTree(p.toString)))
    p.toString
  }

  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val layoutDpp = QueryDef(
    "layout_dpp",
    (spark, dir) => {
      val tmp = stableTmp("graft-dpp", dir)
      // repartition on the partition column before the write: each day
      // directory is written by one task (one file per partition — the
      // layout a real fact table wants) instead of the single scan task
      // writing all 30 dirs (r9 single-task audit: 0.69 s stage). The
      // partition count is named so AQE keeps every shuffle partition
      // (coalesced, the 30 days land on 2 of 4 cores)
      val days = load(spark, dir, "events").withColumn("day", to_date(col("ts")))
      days.repartition(spark.sessionState.conf.numShufflePartitions, col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
      // read back with the schema just written (`day: date` included): the
      // partition directories are still discovered on the driver, but no
      // schema-inference job runs over the 30 part files
      val fact = spark.read.schema(days.schema).parquet(tmp)
      val dim = load(spark, dir, "events")
        .select(to_date(col("ts")).as("dday")).distinct()
        .filter(dayofmonth(col("dday")) % 10 === 5)
      fact.join(broadcast(dim), col("day") === col("dday"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("cents"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("cents"))
        .orderBy(col("day"), col("event_type"))
    },
    Some("""
      WITH dim AS (
        SELECT DISTINCT CAST(ts AS DATE) AS dday FROM events
        WHERE day(CAST(ts AS DATE)) % 10 = 5)
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events JOIN dim ON CAST(ts AS DATE) = dday
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    notes = "real day-partitioned write + DPP join; dynamicpruning pinned in DppSpec")

  /** Bucketed-table co-located join — the pre-shuffle that pays for itself.
    *
    * Both fact tables are written ONCE bucketed (+ sorted) on the join key
    * (`bucketBy(8, orderkey)`, Spark's hash-partitioned file layout); the
    * subsequent sort-merge join reads each bucket pair directly, with NO
    * Exchange and NO per-query Sort on either side — the scan itself
    * reports the bucketed HashPartitioning. At 100 TB this converts every
    * repeated orders⋈lineitem from a full 2-sided shuffle into a metadata
    * decision, which is why warehouse fact tables are bucketed on their FK.
    * BucketingSpec pins the plan shape (at most one Exchange — the
    * post-join aggregate — and none beneath the SortMergeJoin).
    *
    * The query output is the joined priority rollup in exact cents; the
    * oracle is the same join on the raw parquet — bucketing must not change
    * results, only the plan.
    */
  val layoutBucketed = QueryDef(
    "layout_bucketed",
    (spark, dir) => {
      val base = stableTmp("graft-bucketed", dir)
      // table names keyed to the sf dir (not a per-run UUID): re-runs
      // OVERWRITE one catalog entry per fixture dir instead of leaking a
      // new table + data copy per invocation
      // tag = FULL fixture hash + pid ('-' → '_' to stay a valid unquoted
      // SQL identifier): a takeRight over the pid-bearing dir name would
      // keep only a few hash chars and let two fixture dirs in one JVM
      // collide on the catalog table name
      val tag = new java.io.File(base).getName
        .stripPrefix("graft-bucketed-").replace('-', '_')
      val oTab = s"graft_orders_b_$tag"
      val lTab = s"graft_lineitem_b_$tag"
      // repartition on the bucket key (same Murmur3 hash as bucketBy) so
      // the 8 bucket files are written by 8 parallel tasks — one bucket per
      // task, one file per bucket — instead of the single scan task writing
      // all 8 from one thread (r9 single-task audit: 0.30 s stage)
      load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/$oTab").mode("overwrite").saveAsTable(oTab)
      load(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .repartition(8, col("l_orderkey"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/$lTab").mode("overwrite").saveAsTable(lTab)
      bucketedJoin(spark, oTab, lTab)
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS price_cents
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    notes = "bucketBy(8) both sides -> exchange-free, sort-free SMJ; plan pinned in BucketingSpec")

  /** The read side of [[layoutBucketed]], factored out so the spec can pin
    * the physical plan of exactly what the query runs. `merge` hint keeps
    * the join on the sort-merge path (a broadcast would also skip the
    * shuffle, but for the wrong reason).
    */
  private[graft] def bucketedJoin(spark: org.apache.spark.sql.SparkSession,
      oTab: String, lTab: String) =
    spark.table(oTab)
      .join(spark.table(lTab).hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
          .as("price_cents"))
      .orderBy(col("o_orderpriority"))

  /** Source-format roundtrip fidelity: the same projection written and read
    * back through every bundled file format (ORC, JSON-lines, CSV, and Spark 4 native XML) must
    * carry identical content — the format layer is plumbing, never
    * semantics. One row per format (plus the parquet original as the
    * baseline row) with exact-integer content statistics; the oracle
    * derives ALL five rows from the parquet table, so any format that
    * loses/garbles a value (timestamp precision, quoting, type coercion)
    * breaks that format's row hash. Text formats are fed only
    * exactly-serializable types (BIGINT/STRING/DATE — the price is
    * integerized to cents and the timestamp truncated to DATE before the
    * write; raw microsecond timestamps through CSV's default pattern are
    * the known lossy path this projection deliberately avoids and
    * documents).
    *
    * Scale: four writes + five scans of one projection, all distributed;
    * per-format stats are single partial-aggregable rollups. This is the
    * ingest-audit a pipeline runs when onboarding a new upstream format.
    */
  val sourceFormatRoundtrip = QueryDef(
    "source_format_roundtrip",
    (spark, dir) => {
      import graft.Tables.cents
      val tmp = stableTmp("graft-formats", dir)
      // five consumers (4 format writes + the baseline stats row) would
      // each re-scan and re-project orders; materialize the projection once
      val base = load(spark, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"),
        to_date(col("o_orderdate")).as("o_date"), col("o_orderpriority"))
        .localCheckpoint()
      val schema = base.schema
      def stats(df: org.apache.spark.sql.DataFrame, fmt: String) =
        df.agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("sum_key"),
            sum(col("o_custkey")).as("sum_cust"),
            sum(col("price_cents")).as("sum_price_cents"),
            sum(datediff(col("o_date"), lit("1970-01-01")).cast("long"))
              .as("sum_date_days"),
            sum((length(col("o_orderstatus")) + length(col("o_orderpriority")))
              .cast("long")).as("sum_str_len"))
          .select(lit(fmt).as("format"), col("n_rows"), col("sum_key"),
            col("sum_cust"), col("sum_price_cents"), col("sum_date_days"),
            col("sum_str_len"))
      // one dispatch point per format: the same options map drives both the
      // write and the readback, so an option set on one side cannot drift
      // from the other (a header mismatch on CSV would shift every row)
      val fmtOptions = Map(
        "orc"  -> Map.empty[String, String],
        "json" -> Map.empty[String, String],
        // the shared CSV fidelity contract (Tables.csvFidelityOptions,
        // pinned by PropertySpec's quoting law). multiLine is deliberately
        // OMITTED: these fields cannot contain newlines, and multiLine
        // makes each CSV file ONE split — it belongs on text-bearing
        // ingest (as many moderate files), not on this audit's scan
        "csv"  -> (graft.Tables.csvFidelityOptions + ("header" -> "true")),
        // Spark 4 native XML (no external package): rowTag names the
        // per-row element on both the writer and the reader
        "xml"  -> Map("rowTag" -> "row"))
      val roundtrips = fmtOptions.toSeq.sortBy(_._1).map { case (fmt, opts) =>
        val path = s"$tmp/$fmt"
        base.repartition(4).write.mode("overwrite")
          .options(opts).format(fmt).save(path)
        stats(spark.read.schema(schema).options(opts).format(fmt).load(path),
          fmt)
      }
      (stats(base, "parquet") +: roundtrips).reduce(_.unionAll(_))
        .orderBy(col("format"))
    },
    Some("""
      WITH s AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents,
               CAST(SUM(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT) AS sum_date_days,
               CAST(SUM(length(o_orderstatus) + length(o_orderpriority)) AS BIGINT) AS sum_str_len
        FROM orders)
      SELECT f.format, s.n_rows, s.sum_key, s.sum_cust, s.sum_price_cents,
             s.sum_date_days, s.sum_str_len
      FROM s CROSS JOIN (VALUES ('csv'), ('json'), ('orc'), ('parquet'),
                         ('xml')) f(format)
      ORDER BY f.format"""),
    notes = "ORC/JSON-lines/CSV/XML (Spark 4 native) write+readback fidelity vs the parquet original: five identical exact-integer stat rows or the differing format's hash breaks; text formats fed only exactly-serializable types (cents BIGINT, DATE)")

  /** Malformed-record quarantine — the ingest-robustness stage every
    * 100 TB CSV onboarding needs: parse in PERMISSIVE mode with a
    * `columnNameOfCorruptRecord` column, so rows that fail the typed schema
    * survive as quarantined raw lines instead of killing the job (FAILFAST)
    * or silently vanishing (DROPMALFORMED). The fixture corrupts its own
    * CSV deterministically (every o_orderkey ≡ 0 mod 97 writes a non-numeric
    * price field), so the oracle can restate the expected good/bad split
    * and good-row aggregates entirely from the parquet table — if
    * PERMISSIVE parsing misclassified a single row, a count or sum breaks.
    *
    * Scale: the corrupt-or-not decision is per-row inside the CSV scan
    * (no extra pass); quarantine rides the same aggregate. One text write +
    * one CSV scan, both distributed.
    */
  val sourceCsvQuarantine = QueryDef(
    "source_csv_quarantine",
    (spark, dir) => {
      import graft.Tables.cents
      val tmp = stableTmp("graft-quarantine", dir)
      load(spark, dir, "orders")
        .select(concat_ws(",",
          col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 97 === 0, lit("NOT_A_NUMBER"))
            .otherwise(cents(col("o_totalprice")).cast("string"))).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(tmp)
      spark.read
        .schema("o_orderkey LONG, o_custkey LONG, price_cents LONG, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(tmp)
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_bad"),
          count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
          sum(when(col("_corrupt_record").isNull, col("o_orderkey"))).as("sum_good_key"),
          sum(when(col("_corrupt_record").isNull, col("price_cents"))).as("sum_good_cents"))
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(COUNT(CASE WHEN o_orderkey % 97 = 0 THEN 1 END) AS BIGINT) AS n_bad,
             CAST(COUNT(CASE WHEN o_orderkey % 97 <> 0 THEN 1 END) AS BIGINT) AS n_good,
             CAST(SUM(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END) AS BIGINT) AS sum_good_key,
             CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
               THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS sum_good_cents
      FROM orders"""),
    notes = "PERMISSIVE CSV parse + corrupt-record quarantine over a deterministically self-corrupted fixture (key % 97 -> non-numeric price); oracle restates the split from parquet, so one misclassified row breaks a sum")

  /** Schema-evolution read — the lakehouse reality that a long-lived table
    * is written by MANY job versions: older files lack columns newer ones
    * carry. Two schema generations of the same fact land in sibling
    * directories (gen v1: key+cust only — the even keys; gen v2: adds
    * price_cents — the odd keys); `mergeSchema=true` reconciles the footers
    * into the union schema and v1 rows surface the missing column as NULL
    * (never a default, never an error). The aggregate proves both the
    * union-schema read and the null semantics: price sums over v2 rows
    * only, key sums over all. Oracle restates the generation rule from the
    * parquet original.
    *
    * Scale note: mergeSchema footer reconciliation is a one-time
    * driver-side listing cost per query — production tables pin the merged
    * schema in a catalog instead; the READ semantics verified here are
    * identical either way.
    */
  val sourceSchemaEvolution = QueryDef(
    "source_schema_evolution",
    (spark, dir) => {
      import graft.Tables.cents
      val tmp = stableTmp("graft-evolve", dir)
      val base = load(spark, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        cents(col("o_totalprice")).as("price_cents"))
      base.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .repartition(2).write.mode("overwrite").parquet(s"$tmp/gen=v1")
      base.filter(col("o_orderkey") % 2 === 1)
        .repartition(2).write.mode("overwrite").parquet(s"$tmp/gen=v2")
      spark.read.option("mergeSchema", "true")
        .option("basePath", tmp).parquet(s"$tmp/gen=v1", s"$tmp/gen=v2")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("price_cents")).as("n_with_price"),
          count(when(col("price_cents").isNull, 1)).as("n_legacy"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("price_cents")).as("sum_price_cents"))
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT) AS n_with_price,
             CAST(COUNT(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS BIGINT) AS n_legacy,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1
               THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS sum_price_cents
      FROM orders"""),
    notes = "mergeSchema read over two schema generations (v1 lacks price_cents): union schema, NULL backfill for legacy files; oracle restates the generation rule from parquet")

  val all: Seq[QueryDef] = Seq(layoutZorder, layoutSkipping, layoutCompaction,
    layoutDpp, layoutBucketed, sourceFormatRoundtrip, sourceCsvQuarantine,
    sourceSchemaEvolution)
}
