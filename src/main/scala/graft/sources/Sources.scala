package graft.sources

import java.io.FileNotFoundException

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source layer — re-expression of the reference's ingestion surface
  * (`/root/reference/Spatially ETL test.py:38-135`: widget-dispatched BLOB-CSV
  * vs paged-JSON-API ingestion) as a sealed Scala ADT.
  *
  * Key scale deviation from the reference (deliberate, documented in SURVEY §7.4.7):
  * the reference fetches every API page on the DRIVER through a
  * `ThreadPoolExecutor(max_workers=10)` (`Spatially ETL test.py:111-124`), so the
  * whole dataset transits one machine. Here page offsets are a distributed
  * `spark.range` and each EXECUTOR fetches its own pages via `mapPartitions` —
  * the driver never sees row data, so ingest bandwidth scales with the cluster.
  */
sealed trait Source {
  def load(spark: SparkSession): DataFrame
}

/** Headered CSV, all columns read as string — mirrors
  * `spark.read.format("csv").option("header","true").load(path)`
  * (`Spatially ETL test.py:131`): no `inferSchema`, typing happens downstream.
  *
  * A headered read with no schema resolves the header through a Spark job
  * (`take(1)` over the file's lines) on every call. For a single FILE the
  * header is read here on the driver instead, through Spark's own CSV
  * helpers — `CSVUtils.readHeaderLine` (first line that is neither empty nor a
  * comment), univocity's `parseLine` with Spark's parser settings,
  * `CSVUtils.makeSafeHeader` (empty names → `_c<i>`, duplicates suffixed
  * with their index, case-folded unless `spark.sql.caseSensitive`) — and
  * the all-string schema is handed to `spark.read.schema`. A directory, a
  * glob or a missing path keeps Spark's own inference (and its errors).
  */
final case class CsvSource(path: String) extends Source {
  override def load(spark: SparkSession): DataFrame = {
    val reader = spark.read.option("header", "true")
    CsvSource.fileHeaderSchema(spark, path)
      .fold(reader.csv(path))(reader.schema(_).csv(path))
  }
}

object CsvSource {
  private val GlobChars = "{}[]*?\\"

  /** The schema Spark's header inference gives a single file, or None when
    * `path` is not a single existing file.
    */
  private def fileHeaderSchema(spark: SparkSession, path: String): Option[StructType] = {
    if (path.exists(GlobChars.contains(_))) return None
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      val sqlConf = spark.sessionState.conf
      val opts = new CSVOptions(Map("header" -> "true"), false, sqlConf.sessionLocalTimeZone)
      val names = CSVUtils.readHeaderLine(st.getPath, opts, conf)
        .flatMap(line => Option(new CsvParser(opts.asParserSettings).parseLine(line)))
        .fold(Array.empty[String])(
          CSVUtils.makeSafeHeader(_, sqlConf.caseSensitiveAnalysis, opts))
      StructType(names.map(StructField(_, StringType)))
    }
  }
}

/** One page of a limit/offset-paginated feed: returns the page's records as raw
  * JSON strings, or None on a failed fetch (the reference silently drops failed
  * pages — `fetch_data` returns None on non-200, `Spatially ETL test.py:108-109`).
  * Implementations MUST be Serializable: they run inside executor tasks.
  */
trait PageFetcher extends Serializable {
  def fetch(offset: Long, limit: Long): Option[Iterator[String]]
}

/** Stands in for the reference's Socrata HTTP GET (`Spatially ETL test.py:102-109`)
  * in this zero-egress environment: pages are pre-materialized JSONL files
  * `page_<offset/limit>.jsonl` under `dir`. Same limit/offset contract, same
  * missing-page => None semantics; a missing `dir` fails, naming it.
  */
final case class LocalFixturePageFetcher(dir: String) extends PageFetcher {
  override def fetch(offset: Long, limit: Long): Option[Iterator[String]] = {
    if (!new java.io.File(dir).isDirectory)
      throw new FileNotFoundException(s"fixture page dir $dir does not exist")
    val f = new java.io.File(dir, s"page_${offset / limit}.jsonl")
    if (!f.isFile) None
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try Some(src.getLines().toVector.iterator)
      finally src.close()
    }
  }
}

/** Production page fetcher: HTTP GET of a limit/offset-paginated JSON feed
  * (the reference's live Socrata call, `Spatially ETL test.py:102-109`) via
  * `java.net.http.HttpClient`, with bounded retry + exponential backoff on
  * retryable failures (connect/IO errors, 429, 5xx). A 200 body is parsed as
  * either a JSON array of records (Socrata's shape — split into one JSON
  * string per record with Spark's bundled Jackson) or JSONL; any other
  * terminal status returns None, preserving the reference's dropped-page
  * semantic (upgradeable to fail-fast via `PagedJsonSource.failOnDroppedPage`).
  *
  * Runs inside executor tasks: the case class is Serializable, the
  * HttpClient is @transient lazy so each executor JVM builds its own.
  *
  * @param limitParam/offsetParam query-param names (Socrata: `$limit`/`$offset`)
  */
final case class HttpPageFetcher(
    baseUrl: String,
    limitParam: String = "$limit",
    offsetParam: String = "$offset",
    maxRetries: Int = 3,
    backoffMs: Long = 100L,
    timeoutMs: Long = 30000L) extends PageFetcher {

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .build()

  private def recordsOf(body: String): Iterator[String] = {
    val trimmed = body.trim
    if (trimmed.startsWith("[")) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val root = mapper.readTree(trimmed)
      val out = Vector.newBuilder[String]
      root.forEach(node => out += node.toString)
      out.result().iterator
    } else trimmed.linesIterator.filter(_.nonEmpty)
  }

  override def fetch(offset: Long, limit: Long): Option[Iterator[String]] = {
    val sep = if (baseUrl.contains("?")) "&" else "?"
    val uri = java.net.URI.create(
      s"$baseUrl$sep$limitParam=$limit&$offsetParam=$offset")
    val req = java.net.http.HttpRequest.newBuilder(uri)
      .timeout(java.time.Duration.ofMillis(timeoutMs)).GET().build()
    var attempt = 0
    while (true) {
      val status =
        try {
          val resp = client.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode == 200) return Some(recordsOf(resp.body))
          resp.statusCode
        } catch {
          case _: java.io.IOException => -1 // connect/reset: retryable
        }
      val retryable = status == -1 || status == 429 || status >= 500
      if (!retryable || attempt >= maxRetries) return None
      Thread.sleep(backoffMs << attempt) // 100, 200, 400, ...
      attempt += 1
    }
    None // unreachable
  }
}

/** Paginated JSON source — executor-side re-design of
  * `fetch_data_to_df` (`Spatially ETL test.py:111-128`).
  *
  * @param failOnDroppedPage the reference silently skips failed pages (a
  *   data-completeness hazard, SURVEY §2.5); default preserves that semantic,
  *   `true` upgrades it to fail-fast.
  */
final case class PagedJsonSource(
    fetcher: PageFetcher,
    limit: Long,
    totalRecords: Long,
    failOnDroppedPage: Boolean = false) extends Source {

  /** Raw page payloads as one JSON-string Dataset; offsets are distributed so
    * each executor pulls its own pages (vs. the reference's driver-side pool).
    */
  def loadRaw(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    // limit ≤ 0 would divide by zero; totalRecords ≤ 0 would otherwise ask
    // range for 0 partitions, which throws before load()'s reference-parity
    // "No data fetched." — an empty Dataset lets that path fire instead
    require(limit > 0, s"page limit must be positive, got $limit")
    val nPages = ((totalRecords + limit - 1) / limit).toInt
    if (nPages <= 0) return spark.emptyDataset[String]
    val f = fetcher
    val lim = limit
    val strict = failOnDroppedPage
    // the page ids are split over the tasks by range itself: no shuffle
    spark.range(0, nPages.toLong, 1, math.min(nPages, 32))
      .as[Long]
      .mapPartitions { pages =>
        pages.flatMap { p =>
          f.fetch(p * lim, lim) match {
            case Some(lines) => lines
            case None if strict =>
              throw new IllegalStateException(s"page at offset ${p * lim} failed")
            case None => Iterator.empty // reference: silently dropped page (:119)
          }
        }
      }
  }

  override def load(spark: SparkSession): DataFrame = {
    val raw = loadRaw(spark)
    // schema inference over JSON records, as `spark.read.json(full_rdd)` does
    // (`Spatially ETL test.py:125`); Dataset[String] overload is the Spark-4 form.
    val df = spark.read.json(raw)
    // inference fetched every page once; a field in its schema
    // (`_corrupt_record` included) proves a record exists, so only an empty
    // schema costs a second fetch to tell no records from `{}` records
    if (df.schema.isEmpty && df.isEmpty)
      throw new IllegalStateException("No data fetched.") // :128
    df
  }
}

object Source {
  /** Widget-dispatch parity: `data_source ∈ {BLOB, API}` else error
    * (`Spatially ETL test.py:130-135`).
    */
  def dispatch(kind: String, csv: => CsvSource, api: => PagedJsonSource): Source =
    kind.toUpperCase match {
      case "BLOB" => csv
      case "API"  => api
      case other  => throw new IllegalArgumentException(s"Invalid data source: $other")
    }
}
