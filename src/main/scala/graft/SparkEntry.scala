package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * All queries live in the per-area registries under [[graft.ops]]; each
  * [[QueryDef]] pairs the Spark implementation with its DuckDB oracle SQL so
  * the two can't drift apart.
  */
object SparkEntry {

  /** Runs `df` to completion and discards its rows: the way [[timeRun]]
    * runs a query. Every output column is
    * evaluated. `count()` is not a run: it prunes the plan to no columns,
    * so a projection no row count needs (a UDF, a verify step) never
    * executes, and an order-by's sort is dropped.
    */
  def runToCompletion(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One timed run: its wall seconds and the [[ops.StreamingQueries.StreamRun]]
    * record of every stream it ran, keyed by registry name. */
  final case class TimedRun(wallSec: Double,
      streams: Map[String, ops.StreamingQueries.StreamRun])

  /** Times one [[runToCompletion]] of `df`, built inside the timer (a stream
    * query runs its streams while it builds): the one way the timing mains
    * time a query. Spark's cache is cleared first, so a query that
    * `.cache()`s an intermediate pays for it in every run, and
    * `StreamingQueries.lastRuns` is emptied, so the stream records are this
    * run's. A failed run is a `Failure` and never has a time.
    */
  def timeRun(spark: SparkSession)(df: => DataFrame): Try[TimedRun] = {
    spark.catalog.clearCache()
    ops.StreamingQueries.lastRuns = Map.empty
    val t0 = System.nanoTime()
    try {
      runToCompletion(df)
      Success(TimedRun((System.nanoTime() - t0) / 1e9,
        ops.StreamingQueries.lastRuns))
    } catch { case e: Throwable => Failure(e) }
  }

  /** Every registered query (implementation + oracle). */
  def registry: Seq[QueryDef] =
    ops.ParityQueries.all ++ ops.RelationalQueries.all ++
    ops.AdvancedQueries.all ++ ops.TpchQueries.all ++ ops.RelationalQueries2.all ++
    ops.FunctionQueries.all ++ ops.PipelineQueries.all ++ ops.CoverageQueries.all ++
    ops.EventAnalyticsQueries.all ++ ops.WarehouseQueries.all ++
    ops.TextQueries.all ++ ops.TextQueries2.all ++ ops.RankingQueries.all ++
    ops.VectorQueries.all ++
    ops.DedupQueries.all ++ ops.MultimodalQueries.all ++ ops.StreamingQueries.all ++
    ops.LayoutQueries.all

  /** Flagship: the reference's gold pipeline (BLOB/CSV branch) end-to-end on
    * the bundled BRFSS-shaped fixture. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    ops.GoldPipeline.run(spark,
      sources.CsvSource(s"${ops.ParityQueries.FixtureDir}/brfss.csv"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
