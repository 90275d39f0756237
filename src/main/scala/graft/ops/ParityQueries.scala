package graft.ops

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.{CsvSource, LocalFixturePageFetcher, PagedJsonSource}

/** Registry entries exercising the reference's exact operator surface
  * (SURVEY §2.2-§2.3): the gold pipeline on both ingestion branches, plus the
  * scalar-function battery over the driver's `documents` table.
  */
object ParityQueries {

  /** The checkout's bundled fixtures, resolved from the working directory
    * (sbt's forked run and test JVMs and `tools/runtool.sh` start in the
    * checkout root). Not checked here: a missing fixture fails when it is
    * read, naming its path. */
  val FixtureDir: String =
    java.nio.file.Paths.get("src/test/resources").toAbsolutePath.toString

  /** Flattened gold output: struct fields as scalar columns so the DuckDB hash
    * compare never depends on struct-encoding differences between engines.
    */
  private def flattenGold(df: org.apache.spark.sql.DataFrame) = {
    val flat = df.select(df.columns.toSeq.filter(_ != "geolocation").map(col) ++ Seq(
      col("geolocation.human_address").as("geo_human_address"),
      col("geolocation.latitude").as("geo_latitude"),
      col("geolocation.longitude").as("geo_longitude")): _*)
    flat.orderBy(flat.columns.sorted.map(col): _*)
  }

  private val goldOutCols = Seq(
    "year_start", "year_end", "location_abbreviation", "location_description",
    "datasource", "class", "data_value_type", "data_value", "sample_size",
    "geo_human_address", "geo_latitude", "geo_longitude",
    "stratification_category_1", "stratification_1")

  private val statesSql = GoldPipeline.usStates.map(s => s"'$s'").mkString(", ")

  // the :240-245 gold predicates, shared by both branches and the geo join
  private def goldWhereSql = s"""
    WHERE year_start >= 2020 AND year_end <= 2022
      AND location_abbreviation IN ($statesSql)
      AND NOT regexp_matches(stratification_category_1, '(?i)total')"""

  // shared tail of both gold oracles: predicates + total order
  private def goldOracleTail = s"""$goldWhereSql
    ORDER BY ${goldOutCols.sorted.map(c => s"$c NULLS FIRST").mkString(", ")}"""

  /** DuckDB twin of the CSV-branch normalization, CTEs `raw` → `n`. */
  private def goldCsvNormalizeSql = s"""
      WITH raw AS (
        SELECT * FROM read_csv('$FixtureDir/brfss.csv', header=true, all_varchar=true)
      ), n AS (
        SELECT
          TRY_CAST(yearstart AS INTEGER) AS year_start,
          TRY_CAST(yearend AS INTEGER) AS year_end,
          locationabbr AS location_abbreviation,
          locationdesc AS location_description,
          CASE WHEN datasource = 'Behavioral Risk Factor Surveillance System'
               THEN 'BRFSS' ELSE datasource END AS datasource,
          "class" AS class,
          CASE WHEN contains(lower(question), 'percent')
               THEN 'Percent' ELSE data_value_type END AS data_value_type,
          TRY_CAST(data_value AS DOUBLE) AS data_value,
          TRY_CAST(sample_size AS INTEGER) AS sample_size,
          CAST(NULL AS VARCHAR) AS geo_human_address,
          TRY_CAST(trim(regexp_replace(string_split(geolocation, ',')[1], '[()]', '', 'g')) AS DOUBLE) AS geo_latitude,
          TRY_CAST(trim(regexp_replace(string_split(geolocation, ',')[2], '[()]', '', 'g')) AS DOUBLE) AS geo_longitude,
          stratificationcategory1 AS stratification_category_1,
          stratification1 AS stratification_1
        FROM raw
      )"""

  val goldCsv = QueryDef(
    "gold_csv",
    (spark, _) => flattenGold(
      GoldPipeline.run(spark, CsvSource(s"$FixtureDir/brfss.csv"))),
    Some(s"""$goldCsvNormalizeSql
      SELECT * FROM n $goldOracleTail"""),
    notes = "BLOB branch end-to-end (Spatially ETL test.py:131,156-245)")

  val goldApi = QueryDef(
    "gold_api",
    (spark, _) => flattenGold(GoldPipeline.run(spark,
      PagedJsonSource(LocalFixturePageFetcher(s"$FixtureDir/brfss_pages"),
        limit = 150L, totalRecords = 400L))),
    Some(s"""
      WITH raw AS (
        SELECT * FROM read_json('$FixtureDir/brfss_pages/page_*.jsonl',
                                format='newline_delimited', union_by_name=true,
                                auto_detect=true)
      ), n AS (
        SELECT
          TRY_CAST(yearstart AS INTEGER) AS year_start,
          TRY_CAST(yearend AS INTEGER) AS year_end,
          locationabbr AS location_abbreviation,
          locationdesc AS location_description,
          CASE WHEN datasource = 'Behavioral Risk Factor Surveillance System'
               THEN 'BRFSS' ELSE datasource END AS datasource,
          "class" AS class,
          CASE WHEN contains(lower(question), 'percent')
               THEN 'Percent' ELSE data_value_type END AS data_value_type,
          TRY_CAST(data_value AS DOUBLE) AS data_value,
          TRY_CAST(sample_size AS INTEGER) AS sample_size,
          CAST(geolocation.human_address AS VARCHAR) AS geo_human_address,
          TRY_CAST(geolocation.latitude AS DOUBLE) AS geo_latitude,
          TRY_CAST(geolocation.longitude AS DOUBLE) AS geo_longitude,
          stratificationcategory1 AS stratification_category_1,
          stratification1 AS stratification_1
        FROM raw
      )
      SELECT * FROM n $goldOracleTail"""),
    notes = "API branch end-to-end, executor-side pagination (:102-135,165-245)")

  /** Scalar-function battery (split/get/regexp_replace/trim/lower/contains/
    * when/rlike/isin/try_cast — SURVEY §2.3) over `documents`.
    */
  val parityFuncs = QueryDef(
    "parity_funcs",
    (spark, dir) => {
      val docs = graft.Tables.load(spark, dir, "documents")
      docs
        .filter(col("lang").isin("en", "fr", "es") && !col("lang").rlike("(?i)^z"))
        .select(
          col("doc_id"),
          trim(get(split(col("text"), " "), lit(0))).as("first_word"),
          regexp_replace(substring(col("text"), 1, 40), "[aeiou]", "").as("head_novowel"),
          when(lower(col("text")).contains("join"), lit("J")).otherwise(lit("N")).as("tagged"),
          (col("n_chars").try_cast("double") / 2).as("half_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             trim(string_split(text, ' ')[1]) AS first_word,
             regexp_replace(substr(text, 1, 40), '[aeiou]', '', 'g') AS head_novowel,
             CASE WHEN contains(lower(text), 'join') THEN 'J' ELSE 'N' END AS tagged,
             TRY_CAST(n_chars AS DOUBLE) / 2 AS half_chars
      FROM documents
      WHERE lang IN ('en', 'fr', 'es') AND NOT regexp_matches(lang, '(?i)^z')
      ORDER BY doc_id"""))

  /** Spatial neighbor join over the gold table's geolocation points (the
    * "Spatially" in the reference's name): all pairs of distinct locations
    * within ε=2° of each other, via 2-D grid bucketing — cell = (⌊lat/ε⌋,
    * ⌊lon/ε⌋), left side explodes its 3×3 neighbor cells, EQUI-join on the
    * cell, exact squared-distance post-filter. The planar-distance math is
    * only `* - +` (IEEE exact cross-engine — haversine's trig is NOT
    * libm-portable, which is why the comparison stays in squared degree
    * space, floor-scaled to bp). This is the standard distributed spatial
    * join: candidates are bounded by cell occupancy, never all points².
    */
  val geoNeighborJoin = QueryDef(
    "geo_neighbor_join",
    (spark, _) => {
      val eps = 2.0
      val pts = flattenGold(
        GoldPipeline.run(spark, CsvSource(s"$FixtureDir/brfss.csv")))
        .filter(col("geo_latitude").isNotNull && col("geo_longitude").isNotNull)
        .select(col("location_abbreviation").as("loc"),
          col("geo_latitude").as("lat"), col("geo_longitude").as("lon"))
        .distinct()
        .withColumn("cla", floor(col("lat") / eps).cast("long"))
        .withColumn("clo", floor(col("lon") / eps).cast("long"))
      val probes = pts.select(col("loc").as("a_loc"), col("lat").as("a_lat"),
        col("lon").as("a_lon"), explode(array(
          (for (dla <- -1 to 1; dlo <- -1 to 1) yield
            struct((col("cla") + dla).as("cla"), (col("clo") + dlo).as("clo"))): _*))
          .as("c"))
        .select(col("a_loc"), col("a_lat"), col("a_lon"),
          col("c.cla").as("cla"), col("c.clo").as("clo"))
      val d2 = (col("a_lat") - col("lat")) * (col("a_lat") - col("lat")) +
        (col("a_lon") - col("lon")) * (col("a_lon") - col("lon"))
      probes.join(pts, Seq("cla", "clo"))
        .filter(col("a_loc") < col("loc") && d2 <= lit(eps * eps))
        .select(col("a_loc"), col("loc").as("b_loc"),
          floor(d2 * 10000 + lit(0.5)).cast("long").as("dist_bp"))
        // dist_bp in the sort: a state pair with several qualifying point
        // pairs emits one row per pair, so (a_loc, b_loc) alone is not a
        // total order and the row-order-sensitive compare would be luck
        .orderBy(col("a_loc"), col("b_loc"), col("dist_bp"))
    },
    Some(s"""$goldCsvNormalizeSql,
      g AS (SELECT * FROM n $goldWhereSql),
      pts AS (
        SELECT DISTINCT location_abbreviation AS loc,
               geo_latitude AS lat, geo_longitude AS lon
        FROM g
        WHERE geo_latitude IS NOT NULL AND geo_longitude IS NOT NULL)
      SELECT a.loc AS a_loc, b.loc AS b_loc,
             CAST(floor(((a.lat - b.lat) * (a.lat - b.lat)
               + (a.lon - b.lon) * (a.lon - b.lon)) * 10000 + 0.5) AS BIGINT)
               AS dist_bp
      FROM pts a JOIN pts b
        ON a.loc < b.loc
       AND (a.lat - b.lat) * (a.lat - b.lat)
         + (a.lon - b.lon) * (a.lon - b.lon) <= 4.0::DOUBLE
      ORDER BY a_loc, b_loc, dist_bp"""))

  /** End-to-end check of the [[graft.sources.SynthSource]] DSv2 connector:
    * the id-range predicate is PUSHED into the source (narrows the
    * generated keyspace before partitions are planned — 200k rows become
    * 100k generated, and `.explain` shows the accepted filters), the tag
    * predicate stays post-scan, and column pruning drops `id` from the
    * aggregate's reader. The oracle regenerates the identical table from
    * `range(numRows)` with the same BIGINT hash arithmetic — the connector,
    * its pushdown bookkeeping, and the generator are all inside the hash.
    */
  val sourceSynthPushdown = QueryDef(
    "source_synth_pushdown",
    (spark, dir) => {
      spark.read.format("graft.sources.SynthSource")
        .option("numRows", "200000").option("partitions", "16").load()
        .filter(col("id") >= 50000L && col("id") < 150000L &&
          col("tag") =!= "t3")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("cents"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH synth AS (${graft.sources.SynthSource.oracleSql(200000L)})
      SELECT bucket, COUNT(*) AS n, CAST(SUM(v_cents) AS BIGINT) AS cents
      FROM synth
      WHERE id >= 50000 AND id < 150000 AND tag <> 't3'
      GROUP BY 1 ORDER BY 1"""),
    notes = "DSv2 connector: pushed id-range narrows generation; oracle regenerates from range()")

  /** End-to-end check of the [[graft.sources.DigestSink]] DSv2 WRITE path:
    * the events projection is written through the sink, each task's commit
    * message carries its partial digest, the driver fold is the table
    * digest, and the oracle recomputes the identical count + checksum in
    * SQL. The digest survives any row order and any partitioning — the
    * property that lets a 1000-executor write self-verify.
    */
  val sinkDigestWrite = QueryDef(
    "sink_digest_write",
    (spark, dir) => {
      import graft.Tables.cents
      graft.Tables.load(spark, dir, "events")
        .select(col("event_id"), unix_millis(col("ts")).as("ms"),
          cents(col("value")).as("vc"))
        .write.format("graft.sources.DigestSink").mode("append").save()
      val (n, ck) = graft.sources.DigestSink.lastDigest
      import spark.implicits._
      Seq((n, ck)).toDF("n_rows", "digest")
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM((((event_id % 2147483647) * 31 + (epoch_ms(ts) % 2147483647))
               % 2147483647 * 31 + (CAST(floor(value * 100 + 0.5) AS BIGINT)
               % 2147483647)) % 2147483647) AS BIGINT) AS digest
      FROM events"""),
    notes = "DSv2 write path; commit-protocol digest is exactly-once under task retry")

  /** The same connector aggregate through the VECTORIZED read path
    * (`columnar=true` → `supportColumnarReads` → `ColumnarBatch`es of 4096
    * straight into whole-stage codegen via one ColumnarToRow boundary —
    * the parquet vectorized reader's contract, exercised by a custom
    * connector). Identical oracle to the row-path query; SynthSourceSpec
    * pins the ColumnarToRow node so the path can't silently fall back.
    */
  val sourceSynthColumnar = QueryDef(
    "source_synth_columnar",
    (spark, dir) => {
      spark.read.format("graft.sources.SynthSource")
        .option("numRows", "200000").option("partitions", "16")
        .option("columnar", "true").load()
        .filter(col("id") >= 50000L && col("id") < 150000L &&
          col("tag") =!= "t3")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("cents"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH synth AS (${graft.sources.SynthSource.oracleSql(200000L)})
      SELECT bucket, COUNT(*) AS n, CAST(SUM(v_cents) AS BIGINT) AS cents
      FROM synth
      WHERE id >= 50000 AND id < 150000 AND tag <> 't3'
      GROUP BY 1 ORDER BY 1"""),
    notes = "vectorized DSv2 read; same pushdown + oracle as the row path")

  /** The connector's AGGREGATE pushdown end to end: `GROUP BY bucket` with
    * count/sum/min/max is answered by the partition readers themselves —
    * each emits ≤64 pre-aggregated rows instead of its ~6k-id slice, Spark
    * final-merges the partials (partial pushdown, the honest distributed
    * contract), and the id-range filter still narrows generation first, so
    * the two pushdowns COMPOSE: filter → partition elimination → in-reader
    * aggregation. The scan's output is O(buckets·partitions) however many
    * rows the table has — the DSv2 analogue of parquet min/max/count
    * metadata aggregation, which is what makes `SELECT bucket, COUNT(*)`
    * on a 100 TB source a metadata-speed query. SynthSourceSpec pins both
    * the pushed plan shape and the residual-filter fallback.
    */
  val sourceSynthAggPushdown = QueryDef(
    "source_synth_agg_pushdown",
    (spark, dir) => {
      spark.read.format("graft.sources.SynthSource")
        .option("numRows", "200000").option("partitions", "16").load()
        .filter(col("id") >= 50000L && col("id") < 150000L)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("cents"),
          min(col("v_cents")).as("min_cents"),
          max(col("v_cents")).as("max_cents"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH synth AS (${graft.sources.SynthSource.oracleSql(200000L)})
      SELECT bucket, COUNT(*) AS n, CAST(SUM(v_cents) AS BIGINT) AS cents,
             MIN(v_cents) AS min_cents, MAX(v_cents) AS max_cents
      FROM synth
      WHERE id >= 50000 AND id < 150000
      GROUP BY 1 ORDER BY 1"""),
    notes = "DSv2 aggregate pushdown: readers emit per-bucket partials, Spark final-merges; composes with filter pushdown")

  /** The connector's STORAGE-PARTITIONED JOIN: both sides load with
    * `partitionBy=bucket`, so each scan plans one input partition per bucket
    * value (`HasPartitionKey`) and reports
    * `KeyGroupedPartitioning(identity(bucket))`. With
    * `spark.sql.sources.v2.bucketing.enabled` (set once here; it only
    * affects sources that report a key-grouped layout) Spark satisfies both
    * `GROUP BY bucket` aggregates AND the bucket equi-join from the
    * reported layout — ZERO shuffle Exchanges end to end, the DSv2
    * analogue of a co-bucketed warehouse join (the Iceberg-bucket
    * contract). SynthSpjSpec pins the Exchange-free executed plan; at
    * 100 TB this is the difference between a metadata-aligned join and
    * re-shuffling both fact tables. In bucket mode the source deliberately
    * DECLINES aggregate pushdown: the pushdown's `group_col_0` rename hides
    * the key-grouped layout from EnsureRequirements (KeyGroupedPartitioning
    * is not alias-projected), so pushing partials would re-introduce both
    * shuffles — zero network beats reader-side pre-aggregation here (the
    * rationale is measured and documented at the decline site in
    * SynthSource.pushAggregation).
    */
  val sourceSynthSpj = QueryDef(
    "source_synth_spj",
    (spark, dir) => {
      // Harmless globally: only DSv2 scans reporting KeyGroupedPartitioning
      // (i.e. only this connector in bucket mode) change plans under it.
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      def synth(n: Long) = spark.read.format("graft.sources.SynthSource")
        .option("numRows", n.toString).option("partitionBy", "bucket").load()
      val a = synth(200000L).groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_a"), sum(col("v_cents")).as("cents_a"))
      val b = synth(100000L).groupBy(col("bucket"))
        .agg(sum(col("v_cents")).as("cents_b"))
      a.join(b, Seq("bucket"))
        .select(col("bucket"), col("n_a"), col("cents_a"), col("cents_b"))
        .orderBy(col("bucket"))
    },
    Some(s"""
      WITH sa AS (${graft.sources.SynthSource.oracleSql(200000L)}),
           sb AS (${graft.sources.SynthSource.oracleSql(100000L)})
      SELECT a.bucket, a.n_a, a.cents_a, b.cents_b
      FROM (SELECT bucket, COUNT(*) AS n_a,
                   CAST(SUM(v_cents) AS BIGINT) AS cents_a
            FROM sa GROUP BY 1) a
      JOIN (SELECT bucket, CAST(SUM(v_cents) AS BIGINT) AS cents_b
            FROM sb GROUP BY 1) b USING (bucket)
      ORDER BY bucket"""),
    notes = "DSv2 storage-partitioned join: co-bucketed scans report KeyGroupedPartitioning; agg + join plan with zero shuffle Exchanges")

  val all: Seq[QueryDef] = Seq(goldCsv, goldApi, parityFuncs, geoNeighborJoin,
    sourceSynthPushdown, sinkDigestWrite, sourceSynthColumnar,
    sourceSynthAggPushdown, sourceSynthSpj)
}
