package graft.ops

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Source

/** End of the reference pipeline: publish the normalized frame as a view, then
  * CTAS the filtered gold table (`/root/reference/Spatially ETL test.py:205,236-245`).
  */
object GoldPipeline {

  /** The 50-state IN list (`Spatially ETL test.py:218-222`). Deliberately
    * excludes US/DC/PR/GU/VI territory & rollup codes.
    */
  val usStates: Seq[String] = Seq(
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA",
    "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD",
    "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ",
    "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY")

  /** Gold predicates (`Spatially ETL test.py:240-245`):
    * year window ∧ 50-state membership ∧ drop 'Total' rollup strata
    * (case-insensitive regex, null stratification rows drop too — rlike(null)
    * is null, which a WHERE discards; identical in the reference and DuckDB).
    */
  def goldFilter(df: DataFrame): DataFrame =
    df.filter(
      col("year_start") >= 2020 &&
      col("year_end") <= 2022 &&
      col("location_abbreviation").isin(usStates: _*) &&
      !col("stratification_category_1").rlike("(?i)total"))

  /** Full pipeline: source → normalize (branch-matched) → global temp view →
    * filtered gold. Mirrors the notebook's cross-language handoff (`:205`).
    */
  def run(spark: SparkSession, source: Source): DataFrame = {
    val normalized = source match {
      case c: graft.sources.CsvSource       => Normalize.fromCsv(c.load(spark))
      case p: graft.sources.PagedJsonSource => Normalize.fromApi(p.load(spark))
    }
    normalized.createOrReplaceGlobalTempView("cleaned_and_transformed_chronic_data")
    goldFilter(normalized)
  }

  /** SQL CTAS over the published view — textual parity with the notebook's
    * `%sql` cell (`:236-245`), Spark SQL dialect included (`NOT RLIKE`).
    * Parquet provider stands in for Delta (storage/ACID concern, not query
    * semantics — SURVEY §1.1); `CREATE OR REPLACE` keeps the full-overwrite
    * idempotence (`:237`). Call after [[run]] has registered the view.
    */
  def ctasGold(spark: SparkSession, table: String): DataFrame = {
    // CREATE OR REPLACE TABLE needs a v2 catalog (Delta's); the v1 session
    // catalog used here only supports plain CTAS, so OR REPLACE is emulated —
    // same full-overwrite semantics. A new session on a reused warehouse
    // has a catalog that forgot the table but not its managed directory,
    // which CTAS refuses (LOCATION_ALREADY_EXISTS): clear it too.
    val catalog = spark.sessionState.catalog
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    if (catalog.tableExists(id)) spark.sql(s"DROP TABLE $table")
    else graft.Tables.deleteTree(Paths.get(catalog.defaultTablePath(id)).toString)
    spark.sql(
      s"""CREATE TABLE $table AS
         |SELECT *
         |FROM global_temp.cleaned_and_transformed_chronic_data
         |WHERE year_start >= 2020
         |  AND year_end <= 2022
         |  AND location_abbreviation IN (${usStates.map(s => s"'$s'").mkString(", ")})
         |  AND stratification_category_1 NOT RLIKE '(?i)total'""".stripMargin)
    spark.table(table)
  }
}
