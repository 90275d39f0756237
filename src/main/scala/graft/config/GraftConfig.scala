package graft.config

import graft.ops.ParityQueries
import graft.sources.{CsvSource, LocalFixturePageFetcher, PagedJsonSource, Source}

/** Pipeline parameterization — the reference's notebook widgets
  * (`Spatially ETL test.py:38-66`: `data_source`, paths, `limit`,
  * `total_records`) and Key-Vault secret lookups (`:76-78`) as a plain case
  * class resolved from the environment. Secrets become env lookups because
  * OSS Spark has no dbutils; storage-account OAuth wiring (`:81-85`) is an
  * environment concern with no query semantics and is represented by
  * [[hadoopConf]] passthrough only.
  */
final case class GraftConfig(
    dataSource: String,
    filePath: String,
    pagesDir: String,
    limit: Long,
    totalRecords: Long,
    clientId: Option[String],
    tenantId: Option[String],
    clientSecret: Option[String],
    hadoopConf: Map[String, String]) {

  /** Widget-dispatch parity (`:130-135`). */
  def source: Source = Source.dispatch(dataSource,
    CsvSource(filePath),
    PagedJsonSource(LocalFixturePageFetcher(pagesDir), limit, totalRecords))
}

object GraftConfig {
  /** Defaults mirror the reference's widget defaults (`limit=10000`,
    * `total_records=93249`, `:49-50`), overridable via GRAFT_* env vars.
    */
  def fromEnv(env: String => Option[String] = sys.env.get): GraftConfig =
    GraftConfig(
      dataSource = env("GRAFT_DATA_SOURCE").getOrElse("BLOB"),
      filePath = env("GRAFT_FILE_PATH")
        .getOrElse(s"${ParityQueries.FixtureDir}/brfss.csv"),
      pagesDir = env("GRAFT_PAGES_DIR")
        .getOrElse(s"${ParityQueries.FixtureDir}/brfss_pages"),
      limit = parseLong("GRAFT_PAGE_LIMIT", env).getOrElse(10000L),
      totalRecords = parseLong("GRAFT_TOTAL_RECORDS", env).getOrElse(93249L),
      clientId = env("GRAFT_CLIENT_ID"),
      tenantId = env("GRAFT_TENANT_ID"),
      clientSecret = env("GRAFT_CLIENT_SECRET"),
      hadoopConf = Map.empty)

  /** Parse a numeric env var NAMING the variable on failure — a bare
    * NumberFormatException("10k") tells the operator nothing about which
    * of the GRAFT_* knobs is malformed.
    */
  private def parseLong(name: String, env: String => Option[String]): Option[Long] =
    env(name).map { v =>
      try v.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$name must be a number, got '$v'")
      }
    }
}
