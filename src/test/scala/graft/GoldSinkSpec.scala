package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.config.GraftConfig
import graft.ops.GoldPipeline
import graft.sources.CsvSource

class GoldSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("SQL CTAS over the global temp view equals the DataFrame filter path") {
    val gold = GoldPipeline.run(spark,
      CsvSource(s"${ops.ParityQueries.FixtureDir}/brfss.csv"))
    val viaCtas = GoldPipeline.ctasGold(spark, "gold_test_ctas")
    assert(viaCtas.count() === gold.count())
    assert(viaCtas.columns.toSeq === gold.columns.toSeq)
    // CREATE OR REPLACE idempotence: rerun fully replaces, same count
    assert(GoldPipeline.ctasGold(spark, "gold_test_ctas").count() === gold.count())
    spark.sql("DROP TABLE IF EXISTS gold_test_ctas")
  }

  test("ctasGold replaces a table left in the warehouse by an earlier session") {
    // each session gets its own shared state, so its in-memory catalog
    // starts empty while the application warehouse, and the managed table
    // directory an earlier session wrote there, stay — as for a new process
    def freshSession() = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructor(classOf[org.apache.spark.SparkContext])
      .newInstance(spark.sparkContext)
    val csv = CsvSource(s"${ops.ParityQueries.FixtureDir}/brfss.csv")
    val sessions = Seq(freshSession(), freshSession())
    for (s <- sessions) {
      assert(!s.catalog.tableExists("gold_shared_wh"))
      val gold = GoldPipeline.run(s, csv)
      assert(GoldPipeline.ctasGold(s, "gold_shared_wh").count() === gold.count())
    }
    sessions.last.sql("DROP TABLE gold_shared_wh") // managed: drops its files
  }

  test("config layer resolves widget-equivalent parameters from env") {
    val cfg = GraftConfig.fromEnv(_ => None)
    assert(cfg.dataSource === "BLOB")
    assert(cfg.filePath === s"${ops.ParityQueries.FixtureDir}/brfss.csv")
    assert(cfg.pagesDir === s"${ops.ParityQueries.FixtureDir}/brfss_pages")
    assert(cfg.limit === 10000L && cfg.totalRecords === 93249L)
    assert(cfg.source.isInstanceOf[CsvSource])
    val api = GraftConfig.fromEnv(Map(
      "GRAFT_DATA_SOURCE" -> "API", "GRAFT_PAGE_LIMIT" -> "150",
      "GRAFT_TOTAL_RECORDS" -> "400").get)
    assert(api.source.load(spark).count() === 400L)
    intercept[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("GRAFT_DATA_SOURCE" -> "FTP").get).source
    }
  }
}
