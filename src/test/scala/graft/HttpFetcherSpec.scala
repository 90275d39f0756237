package graft

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HttpPageFetcher, PagedJsonSource}

/** Exercises the production HTTP page fetcher against an in-process HTTP
  * server (zero egress): full paged ingest through Spark executors, retry
  * with backoff on 5xx, no retry on 404, dropped-page vs fail-fast policy,
  * and both response shapes (JSON array / JSONL).
  */
class HttpFetcherSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark

  private val Total = 400
  private val PageSize = 150
  private var server: HttpServer = _
  private var base: String = _
  // per-offset request counts, keyed by path+offset
  private val hits = new ConcurrentHashMap[String, Integer]()

  private def bump(key: String): Int =
    hits.merge(key, 1, (a, b) => a + b)

  private def param(ex: HttpExchange, name: String): Long =
    ex.getRequestURI.getRawQuery.split("&").collectFirst {
      case kv if kv.startsWith(s"$name=") => kv.drop(name.length + 1).toLong
    }.getOrElse(0L)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def pageRecords(offset: Long, limit: Long): Seq[String] =
    (offset until math.min(offset + limit, Total.toLong))
      .map(i => s"""{"i": $i, "name": "rec$i"}""")

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // JSON-array pages; offset=150 fails with 500 on its first attempt only
    server.createContext("/data", (ex: HttpExchange) => {
      val off = param(ex, "$offset"); val lim = param(ex, "$limit")
      val n = bump(s"data:$off")
      if (off == 150L && n == 1) respond(ex, 500, "transient")
      else respond(ex, 200, pageRecords(off, lim).mkString("[", ",", "]"))
    })
    // JSONL variant of the same feed
    server.createContext("/jsonl", (ex: HttpExchange) => {
      val off = param(ex, "$offset"); val lim = param(ex, "$limit")
      respond(ex, 200, pageRecords(off, lim).mkString("\n"))
    })
    // always 404 (terminal, must not be retried)
    server.createContext("/gone", (ex: HttpExchange) => {
      bump(s"gone:${param(ex, "$offset")}")
      respond(ex, 404, "not here")
    })
    // always 500 (retryable, must exhaust retries then drop)
    server.createContext("/down", (ex: HttpExchange) => {
      bump(s"down:${param(ex, "$offset")}")
      respond(ex, 500, "broken")
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("paged HTTP ingest reads all pages executor-side, retrying the transient 500") {
    val src = PagedJsonSource(
      HttpPageFetcher(s"$base/data", backoffMs = 10L), PageSize.toLong, Total.toLong)
    val df = src.load(spark)
    // load() fetches each page once (for schema inference); the flaky page
    // cost exactly ONE extra request, its first-attempt 500 retried within
    // the same fetch call
    def requests = Seq(0, 150, 300).map(o => hits.get(s"data:$o").intValue)
    assert(requests === Seq(1, 2, 1))
    assert(df.count() === Total.toLong)
    assert(requests === Seq(2, 3, 2)) // count() fetches each page once more
    // schema inferred from JSON records, as the reference's spark.read.json
    assert(df.columns.toSet === Set("i", "name"))
  }

  test("JSONL response bodies parse identically to JSON arrays") {
    val src = PagedJsonSource(
      HttpPageFetcher(s"$base/jsonl", backoffMs = 10L), PageSize.toLong, Total.toLong)
    assert(src.load(spark).count() === Total.toLong)
  }

  test("404 is terminal: one request, no retries, page dropped by default") {
    val f = HttpPageFetcher(s"$base/gone", backoffMs = 10L)
    assert(f.fetch(0L, 10L).isEmpty)
    assert(hits.get("gone:0") === 1)
  }

  test("persistent 500 exhausts retries; strict mode upgrades the drop to failure") {
    val f = HttpPageFetcher(s"$base/down", maxRetries = 2, backoffMs = 5L)
    assert(f.fetch(0L, 10L).isEmpty)
    assert(hits.get("down:0") === 3) // initial + 2 retries
    val strict = PagedJsonSource(f, 10L, 20L, failOnDroppedPage = true)
    intercept[org.apache.spark.SparkException] { strict.load(spark).count() }
  }

  test("connection refused is retryable then dropped (no server at the port)") {
    val f = HttpPageFetcher("http://127.0.0.1:1", maxRetries = 1, backoffMs = 5L)
    assert(f.fetch(0L, 10L).isEmpty)
  }
}
