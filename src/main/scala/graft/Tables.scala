package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Shared helpers for the query registry. */
object Tables {

  /** Load one driver test table (TESTDATA.md) from an sf dir, through
    * [[readParquet]] (schema read on the driver, no Spark job). `events`
    * reads with `spark.sql.legacy.parquet.nanosAsLong` on and then goes
    * through [[adaptEventsTs]].
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      adaptEventsTs(readParquet(spark, path))
    } else readParquet(spark, path)
  }

  /** Read a parquet path, resolving a single file's schema on the driver.
    *
    * `spark.read.parquet(path)` with no schema infers it through
    * `ParquetUtils.inferSchema` → `mergeSchemasInParallel`: one whole
    * Spark job (tens of ms of driver scheduling) to read one footer, paid
    * on every table reference. For a FILE this makes the inference task's
    * own two calls here instead — `ParquetFooterReader.readFooter(...,
    * SKIP_ROW_GROUPS)` then `ParquetFileFormat.readSchemaFromFooter` with
    * a converter built from the session conf, so `nanosAsLong`,
    * binary-as-string and the NTZ inference flags are honoured exactly as
    * Spark honours them — and hands the result to `spark.read.schema`. The
    * footer is re-read on every call, so a rewritten file is never read
    * with a stale schema.
    *
    * A DIRECTORY (summary files, multi-file schema merge, partition
    * discovery) keeps Spark's own inference; the choice is made from the
    * path's file status. A missing path throws `FileNotFoundException`.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status = p.getFileSystem(conf).getFileStatus(p)
    if (status.isDirectory) spark.read.parquet(path)
    else {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(status, conf), SKIP_ROW_GROUPS)
      spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          new Footer(status.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        .parquet(path)
    }
  }

  /** Surface `events.ts` as a session-tz TIMESTAMP, batch or stream alike
    * (`raw` is read with `nanosAsLong` on). `events.ts` has shipped as
    * several physical parquet types across testdata generations, so this
    * adapts to whatever the file says rather than hardcoding one era's
    * schema:
    *
    *  - TIMESTAMP(NANOS), which Spark 4 refuses ([PARQUET_TYPE_ILLEGAL])
    *    unless read as raw ns longs (legacy mode): rebuild the µs timestamp
    *    with integral division — bit-identical to DuckDB's own ns→µs
    *    truncation of the same column.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    *    TIMESTAMP_NTZ: cast to session-tz TIMESTAMP. The session timezone is
    *    pinned to UTC everywhere (Verify/Bench/specs), so the cast is a pure
    *    type rebrand with identical micros — matching DuckDB, which reads
    *    the same column as plain µs TIMESTAMP natively.
    *  - TIMESTAMP(MICROS, utc-adjusted) → already TimestampType, pass through.
    */
  private[graft] def adaptEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }

  /** Repartition to the shuffle-partition count ONLY when the plan's
    * current parallelism is materially below it. The driver fixtures are
    * single-file single-row-group parquet — ONE scan task — so row-local-
    * heavy compute placed before the first exchange silently runs
    * single-threaded (the r8/r9 single-task-audit trap). On a real cluster
    * the same scan arrives in thousands of splits and this is a NO-OP —
    * which is the point: the unconditional-repartition alternative would
    * reshuffle the whole corpus at 100 TB to fix a local-fixture artifact.
    * `df.rdd.getNumPartitions` only plans (no job runs).
    */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    // PRECONDITION: call this on scan-stage plans only (scan / filter /
    // project). `df.rdd` finalizes the plan, and under AQE that EXECUTES any
    // upstream shuffle stages as real jobs — on a plan with an exchange the
    // probe would silently run those stages twice. Every current call site
    // passes a raw table scan (optionally filtered/projected).
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions * 2 < n) df.repartition(n) else df
  }

  /** Exact-cents integerization of a 2-decimal money double.
    *
    * Cross-engine float determinism (the reason this exists): summing doubles
    * is order-dependent, and Spark's `round()` (BigDecimal HALF_UP on the
    * shortest decimal repr) disagrees with DuckDB's `round()` (binary-double
    * half-away) on edge values — so hash-comparing rounded double aggregates
    * is a coin flip. Instead: integerize per row with `floor(x*100 + 0.5)`
    * (bit-identical in both engines given identical input doubles from the
    * same parquet), then aggregate exact BIGINTs. DuckDB twin:
    * `CAST(floor(x * 100 + 0.5) AS BIGINT)`.
    */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast(LongType)

  /** CSV fidelity contract for arbitrary text, ONE definition referenced by
    * both the roundtrip audit and the PropertySpec quoting law (so the test
    * actually guards the query's options against drift): RFC-4180
    * doubled-quote escape on both sides — the default backslash escape is
    * write/read-ASYMMETRIC for text containing backslashes — and no
    * writer-side whitespace trimming (the trim flags default true on write,
    * false on read). `multiLine` is deliberately NOT here: it is required
    * only when fields can contain newlines, and it costs splittability
    * (each file becomes one task) — a per-call-site decision.
    */
  val csvFidelityOptions: Map[String, String] = Map(
    "escape" -> "\"",
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  /** XML read-side fidelity twin: from_xml/the XML reader trim element text
    * by default, eating padding exactly like the CSV writer trim.
    */
  val xmlFidelityOptions: Map[String, String] =
    Map("ignoreSurroundingSpaces" -> "false")

  /** Scaled integerization for unit-interval scores (cosine, ratios): 4
    * decimal places (basis points). DuckDB twin:
    * `CAST(floor(x * 10000 + 0.5) AS BIGINT)`.
    */
  def basisPoints(c: Column): Column = floor(c * 10000 + lit(0.5)).cast(LongType)

  /** Exact average from integer aggregates: one IEEE division of two exact
    * longs is bit-identical across engines. DuckDB twin:
    * `CAST(s AS DOUBLE) / CAST(n AS DOUBLE)`.
    */
  def exactDiv(s: Column, n: Column): Column = s.cast("double") / n.cast("double")

  /** Occurrence count of `words` in a token array, codegen-friendly:
    * Σ_w (size(toks) − size(array_remove(toks, w))). `array_remove` is
    * whole-stage-codegen'd where the `filter(toks, _.isin(words))` HOF it
    * replaces evaluates as an interpreted lambdafunction (CodegenFallback)
    * — measured r18 on text_quality_classifier: the interpreted form was
    * that query's last non-codegen node and cost ~27% of its wall. Exact
    * for null-free arrays (every `split()` output): each element equals at
    * most one of `words`, so the per-word occurrence counts sum to the
    * membership count. Sized for SHORT lists (the 3-5-word stopword
    * profiles): each word is one O(n) codegen'd pass over the array.
    * A null `toks` gives null (ANSI `size`); `words` must be non-empty.
    */
  def occurrenceCount(toks: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "occurrenceCount: words must be non-empty")
    words.map(w => size(toks) - size(array_remove(toks, w))).reduce(_ + _)
  }

  /** Best-effort recursive delete for per-run temp scaffolding (staging
    * slices, accumulated stores, checkpoints). Never throws: a half-deleted
    * temp dir must not fail the query that already produced its result.
    */
  def deleteTree(path: String): Unit = {
    import scala.util.Try
    // the WHOLE body is wrapped, not just the per-file delete: walk()'s
    // traversal itself throws (UncheckedIOException) on entries that
    // vanish or turn unreadable mid-scan, and this runs in finally blocks
    // where an escape would mask the primary exception
    Try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { Try(java.nio.file.Files.deleteIfExists(f)); () })
        finally walk.close()
      }
    }
    ()
  }
}

/** One registered query: the Spark implementation plus (when SQL-expressible)
  * its DuckDB oracle over the same parquet tables. Contract: identical output
  * column NAMES and deterministic total ORDER BY on both sides; Spark default
  * sort is NULLS FIRST, so every nullable oracle sort key says NULLS FIRST.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    notes: String = "")
