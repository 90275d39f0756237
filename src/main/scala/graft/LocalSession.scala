package graft

import org.apache.spark.sql.SparkSession

/** The ONE local SparkSession recipe shared by every CLI main (Main, Verify,
  * Bench, every `graft.tools` main) and the test suite. The UTC session
  * timezone and the shuffle-partition pin are correctness-critical for
  * oracle parity (`Tables.load`'s TIMESTAMP_NTZ cast resolves against the
  * session zone; partition count shapes every stateful plan), so a tweak
  * must reach the verify and bench paths together — hand-synced copies are
  * how they'd silently diverge.
  *
  * Session artifact isolation is off. It exists so Spark Connect tenants
  * can add jars without seeing each other's; this engine adds none. With
  * it on, every session (and every streaming query, which runs on a
  * clone of its session with a new UUID) gets its own executor class
  * loader, and the whole-stage codegen cache is keyed by class loader: each
  * run of a streaming query recompiled all of its generated classes
  * (15 Janino compiles per `stream_neardup_gate` run, one of them ~0.2 s)
  * and the JIT started over on them. With it off every session shares the
  * executor's default class loader and a repeated query reuses its classes.
  *
  * The engine's SQL functions and plan rules are installed here, once, by
  * [[graft.plans.GraftExtensions]]: every plan in every session sees the
  * as-of strategy and both optimizer rules, whatever ran before it.
  */
object LocalSession {
  def create(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
