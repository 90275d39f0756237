package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (JVM-wide, lazy), built by the
  * CLI mains' own recipe. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession.create("4")

  /** Create a test temp dir that is deleted when the test JVM exits —
    * the default for spec scratch space. Every full `sbt test` run used
    * to strand ~180 fixture-scale dirs in /tmp (upsert tables, sink
    * checkpoints, csv scratch) with no owner; a per-dir shutdown hook
    * reclaims them without forcing try/finally boilerplate into every
    * test. Tests that must delete EARLY (e.g. to assert their own
    * cleanup) still use explicit finally blocks; deleteTree is idempotent
    * so the hook firing afterwards is harmless.
    */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val tempDirHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => tempDirs.forEach(graft.Tables.deleteTree(_))))

  def tempDir(prefix: String): String = {
    tempDirHook // ONE hook draining the queue, not a Thread per dir
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p.toString)
    p.toString
  }

  /** AQE-aware ShuffleExchange counter shared by the zero-shuffle plan
    * gates (BucketingSpec, SynthSpjSpec): materializes the DataFrame so
    * AQE finalizes, then walks stages and subqueries. One copy, so a fix
    * (e.g. a new AQE node type) reaches every gate.
    */
  def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    df.collect() // materialize so AQE finalizes the plan
    def count(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec => count(q.plan) // AQE stage: plan holds the exchange
      case s: ShuffleExchangeExec => 1 + s.children.map(count).sum
      case other => other.children.map(count).sum +
        other.subqueries.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  /** `body`'s result and the Spark jobs it started on this thread (tagged
    * by a job group; the listener bus is drained before counting).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
