package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources._

/** Source-layer parity: pagination semantics, dropped-page policy, dispatch
  * errors (`Spatially ETL test.py:102-135`).
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val pagesDir = s"${ops.ParityQueries.FixtureDir}/brfss_pages"
  private val brfss = s"${ops.ParityQueries.FixtureDir}/brfss.csv"

  private def withCaseSensitive[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.caseSensitive"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def sparkHeaderRead(path: String) =
    spark.read.option("header", "true").csv(path)

  test("csv header read on the driver: schema and rows equal Spark's header inference") {
    val dir = SparkTestSession.tempDir("graft_csv_header")
    def file(name: String, text: String): String = {
      val f = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.writeString(f, text)
      f.toString
    }
    val files = Seq(
      brfss,
      file("dup.csv", "a,b,a\n1,2,3\n"),
      file("dup_case.csv", "a,A,b\n1,2,3\n"),
      file("empty_field.csv", "a,,c\n1,2,3\n"),
      file("blank_first.csv", "\n  \na,b\n1,2\n"),
      file("quoted.csv", "\"x,y\",z\n1,2\n"),
      file("bom.csv", "\uFEFFa,b\n1,2\n"),
      file("empty.csv", ""))
    for (cs <- Seq(false, true); f <- files) withCaseSensitive(cs) {
      val got = CsvSource(f).load(spark)
      val want = sparkHeaderRead(f)
      assert(got.schema === want.schema, s"$f caseSensitive=$cs")
      assert(got.collect().toSeq === want.collect().toSeq, s"$f caseSensitive=$cs")
    }
    withCaseSensitive(false) {
      assert(CsvSource(s"$dir/dup_case.csv").load(spark).columns.toSeq ===
        Seq("a0", "A1", "b"))
    }
  }

  test("csv load of a single file starts no Spark job") {
    assert(SparkTestSession.jobsDuring(CsvSource(brfss).load(spark))._2 === 0)
  }

  test("csv load of a directory keeps Spark's header inference") {
    val dir = SparkTestSession.tempDir("graft_csv_dir")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part.csv"), "p,q\n1,2\n")
    val (got, jobs) = SparkTestSession.jobsDuring(CsvSource(dir).load(spark))
    assert(jobs > 0)
    assert(got.schema === sparkHeaderRead(dir).schema)
    assert(got.columns.toSeq === Seq("p", "q"))
  }

  test("csv parse modes: PERMISSIVE nulls, DROPMALFORMED drops, FAILFAST throws") {
    // three malformation kinds: field-cast failure ("xx,3"), missing column
    // ("9"), extra column ("7,8,9"). PERMISSIVE keeps every row (bad field →
    // null, short row → null-padded, long row → truncated); DROPMALFORMED
    // drops all three; FAILFAST is fatal.
    val dir = SparkTestSession.tempDir("graft_csv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.csv"), "a,b\n1,2\nxx,3\n9\n7,8,9\n4,5\n")
    def read(mode: String) = spark.read
      .schema("a INT, b INT").option("header", "true").option("mode", mode)
      .csv(dir)
    val permissive = read("PERMISSIVE").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(permissive === Set((Some(1), Some(2)), (None, Some(3)),
      (Some(9), None), (Some(7), Some(8)), (Some(4), Some(5))))
    val kept = read("DROPMALFORMED").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(kept === Set((Some(1), Some(2)), (Some(4), Some(5))))
    intercept[Exception] { read("FAILFAST").collect() }
  }

  test("paged source reads all pages, executor-side") {
    val src = PagedJsonSource(LocalFixturePageFetcher(pagesDir), 150L, 400L)
    assert(src.load(spark).count() === 400L)
  }

  test("missing pages are silently dropped by default (reference :108-119 parity)") {
    // claim more records than exist -> pages 3.. return None and are skipped
    val src = PagedJsonSource(LocalFixturePageFetcher(pagesDir), 150L, 10000L)
    assert(src.load(spark).count() === 400L)
  }

  test("a missing fixture page dir fails, naming its path") {
    val dir = s"$pagesDir-absent"
    val e = intercept[java.io.FileNotFoundException] {
      LocalFixturePageFetcher(dir).fetch(0L, 150L)
    }
    assert(e.getMessage.contains(dir))
  }

  test("strict mode upgrades a dropped page to a failure") {
    val src = PagedJsonSource(LocalFixturePageFetcher(pagesDir), 150L, 10000L,
      failOnDroppedPage = true)
    val e = intercept[org.apache.spark.SparkException] { src.load(spark).count() }
    assert(e.getMessage.contains("page at offset") ||
      Option(e.getCause).exists(_.getMessage.contains("page at offset")))
  }

  test("records with no fields load without 'No data fetched.'") {
    val blank = new PageFetcher {
      def fetch(o: Long, l: Long) = Some(Iterator("{}", "{}"))
    }
    val df = PagedJsonSource(blank, 10L, 30L).load(spark)
    assert(df.schema.isEmpty)
    assert(df.count() === 6L)
  }

  test("page reads carry no shuffle") {
    val src = PagedJsonSource(LocalFixturePageFetcher(pagesDir), 150L, 400L)
    assert(SparkTestSession.shuffleCount(src.loadRaw(spark).toDF()) === 0)
  }

  test("empty result raises 'No data fetched.' (reference :128 parity)") {
    val empty = new PageFetcher { def fetch(o: Long, l: Long) = None }
    val src = PagedJsonSource(empty, 10L, 100L)
    val e = intercept[IllegalStateException] { src.load(spark) }
    assert(e.getMessage === "No data fetched.")
  }

  test("source dispatch: BLOB, API, invalid (reference :130-135 parity)") {
    val csv = CsvSource("x.csv")
    def api = PagedJsonSource(LocalFixturePageFetcher(pagesDir), 1L, 1L)
    assert(Source.dispatch("BLOB", csv, api) === csv)
    assert(Source.dispatch("api", csv, api).isInstanceOf[PagedJsonSource])
    intercept[IllegalArgumentException] { Source.dispatch("KAFKA", csv, api) }
  }
}
