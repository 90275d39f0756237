package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture-schema canary (VERDICT r7 #4).
  *
  * The driver regenerates /root/testdata between rounds and has already
  * changed a physical type once (events.ts TIMESTAMP(NANOS) → µs NTZ in r7),
  * which silently broke 76 queries. This spec pins the schema CONTRACT the
  * whole registry depends on — the post-`Tables.load` dtypes — so the next
  * regeneration fails here with a named column diff instead of 76 opaque
  * query errors.
  */
class TestdataSchemaSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  // The contract itself lives in main (graft.TestdataContract) so Verify
  // can flag drift during the driver's own run; this spec asserts it
  // per-table with a readable diff. Note events.ts is the ADAPTED type:
  // whatever the file ships, Tables.load must surface a session-tz
  // TIMESTAMP (the type every events query, window frame, and watermark is
  // written against).
  for ((table, cols) <- TestdataContract.expected.toSeq.sortBy(_._1)) {
    test(s"testdata contract: $table") {
      val got = Tables.load(spark, sfDir, table).schema
        .map(f => f.name -> f.dataType.simpleString)
      assert(got == cols,
        s"\n$table schema drifted from the TESTDATA.md contract." +
          s"\n  expected: ${cols.map { case (n, t) => s"$n:$t" }.mkString(", ")}" +
          s"\n  actual:   ${got.map { case (n, t) => s"$n:$t" }.mkString(", ")}" +
          "\nIf the driver regenerated testdata with new physical types, " +
          "adapt Tables.load (and this contract) deliberately.")
    }
  }

  // ---------------------------------------------------------------------
  // Physical-type era fixtures (VERDICT r8 "What's wrong" #1): the driver
  // has shipped events.ts as TIMESTAMP(NANOS) (r1-r6), µs NTZ (r7+), and
  // could plausibly ship utc-adjusted µs next. Tables.load branches on the
  // file's physical type; the live testdata only ever exercises ONE branch
  // per round, so each era gets its own tiny fixture here — including the
  // `case _` passthrough that would otherwise be dead-untested. Each era
  // encodes the SAME instants; load (and the streaming reader) must
  // surface identical session-tz TIMESTAMP values for all three.
  // ---------------------------------------------------------------------

  /** The instants every era encodes, as UTC micros. The second value
    * carries non-zero sub-millisecond micros so a ms-vs-µs mix-up shifts
    * it; the ns file adds 999 trailing ns to each to pin the ns→µs
    * TRUNCATION rule (DuckDB truncates too — never rounds up).
    */
  private val eraMicros = Seq(
    1710500096789012L, // 2024-03-15 10:54:56.789012 UTC
    1710500099000456L, // 2024-03-15 10:54:59.000456 UTC
    1735689600000000L) // 2025-01-01 00:00:00 UTC

  private def writeSparkEra(dir: java.nio.file.Path, ntz: Boolean): String = {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(SparkTestSession.tempDir("graft-era-w"))
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val tsCol =
        if (ntz) timestamp_micros(col("us")).cast("timestamp_ntz")
        else timestamp_micros(col("us"))
      spark.createDataFrame(
          spark.sparkContext.parallelize(eraMicros.zipWithIndex.map {
            case (us, i) => org.apache.spark.sql.Row(i.toLong, us)
          }, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("us",
              org.apache.spark.sql.types.LongType, nullable = false))))
        .select(col("event_id"), tsCol.as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    // fixture shape contract: a single FILE named events.parquet, like the
    // driver's testdata (the streaming reader symlinks that exact path)
    val part = java.nio.file.Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, dir.resolve("events.parquet"))
    dir.toString
  }

  /** TIMESTAMP(NANOS) era — Spark 4 cannot WRITE nanos, so the file is
    * authored with parquet-mr directly, exactly as the r1-r6 driver
    * fixtures were (pyarrow ns). +999 ns per instant pins truncation.
    */
  private def writeNanosEra(dir: java.nio.file.Path): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .named("events")
    val file = dir.resolve("events.parquet")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toString))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val f = new SimpleGroupFactory(schema)
    try eraMicros.zipWithIndex.foreach { case (us, i) =>
      writer.write(f.newGroup()
        .append("event_id", i.toLong)
        .append("ts", us * 1000L + 999L))
    } finally writer.close()
    dir.toString
  }

  private lazy val eraDirs: Map[String, String] = {
    val base = java.nio.file.Paths.get(SparkTestSession.tempDir("graft-era"))
    def sub(n: String) = java.nio.file.Files.createDirectory(base.resolve(n))
    Map(
      "ns-long" -> writeNanosEra(sub("ns")),
      "us-ntz" -> writeSparkEra(sub("ntz"), ntz = true),
      "us-utc" -> writeSparkEra(sub("utc"), ntz = false))
  }

  private val expectedTs = Seq(
    "2024-03-15 10:54:56.789012",
    "2024-03-15 10:54:59.000456",
    "2025-01-01 00:00:00.000000")

  for (era <- Seq("ns-long", "us-ntz", "us-utc")) {
    test(s"Tables.load adapts events.ts era $era to session-tz TIMESTAMP") {
      import org.apache.spark.sql.functions._
      val df = Tables.load(spark, eraDirs(era), "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"era $era: ts surfaced as ${df.schema("ts").dataType.simpleString}")
      val got = df.orderBy("event_id")
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq
      assert(got == expectedTs, s"era $era: values drifted: $got")
    }

    test(s"streamEvents adapts events.ts era $era identically") {
      import org.apache.spark.sql.functions._
      val sdf = graft.ops.StreamingQueries.streamEvents(spark, eraDirs(era))
      assert(sdf.isStreaming)
      assert(sdf.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType,
        s"era $era: streaming ts is ${sdf.schema("ts").dataType.simpleString}")
      val name = "era_" + era.replace("-", "_")
      val q = sdf.select(col("event_id"), col("ts"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          SparkTestSession.tempDir("graft-era-ck"))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batchTs = Tables.load(spark, eraDirs(era), "events")
        .orderBy("event_id").select("ts").collect().map(_.get(0)).toSeq
      val streamTs = spark.table(name)
        .orderBy("event_id").select("ts").collect().map(_.get(0)).toSeq
      assert(streamTs == batchTs,
        s"era $era: stream read $streamTs but batch load read $batchTs")
    }
  }

  // ---------------------------------------------------------------------
  // Driver-side schema resolution (Tables.readParquet): a single file's
  // schema comes from its footer on the driver, with no Spark job; a
  // directory keeps Spark's own inference.
  // ---------------------------------------------------------------------

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val prev = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(nanosAsLong, v)
      case None    => spark.conf.unset(nanosAsLong)
    }
  }

  for (on <- Seq(true, false)) {
    test(s"driver-read schema equals Spark's inferred schema (nanosAsLong=$on)") {
      import scala.util.Try
      val paths = TestdataContract.expected.keys.toSeq.sorted
        .map(t => s"$t" -> s"$sfDir/$t.parquet") ++
        eraDirs.toSeq.sorted.map { case (era, d) => era -> s"$d/events.parquet" }
      withNanosAsLong(on) {
        for ((label, path) <- paths) {
          val inferred = Try(spark.read.parquet(path).schema)
          val driver = Try(Tables.readParquet(spark, path).schema)
          // the ns era is unreadable with nanosAsLong off: both sides refuse it
          assert(inferred.isSuccess == driver.isSuccess,
            s"$label: Spark inference $inferred, driver read $driver")
          inferred.foreach(s => assert(driver.get == s,
            s"$label: driver read ${driver.get.treeString}, Spark inferred ${s.treeString}"))
        }
        // the flag must actually reach the driver-side converter
        assert(Try(Tables.readParquet(spark,
          s"${eraDirs("ns-long")}/events.parquet")).isSuccess == on)
      }
    }
  }

  test("Tables.load of all 10 tables starts no Spark job") {
    val (_, jobs) = SparkTestSession.jobsDuring(TestdataContract.expected.keys.toSeq.sorted
      .foreach(t => Tables.load(spark, sfDir, t).schema))
    assert(jobs == 0, s"$jobs Spark jobs ran to load 10 tables")
  }

  test("a multi-file directory keeps Spark's schema inference") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("graft-multifile") + "/t"
    spark.range(0, 40, 1, 4)
      .select(col("id"), (col("id") % 3).as("k"), col("id").cast("string").as("s"))
      .write.partitionBy("k").parquet(dir)
    val got = Tables.readParquet(spark, dir)
    // partition discovery survives: `k` is a directory name, in no footer
    assert(got.schema == spark.read.parquet(dir).schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "s", "k"))
    assert(got.count() == 40)
  }

  test("a missing table fails loudly and reports as unreadable drift") {
    val empty = SparkTestSession.tempDir("graft-missing")
    val e = intercept[Exception](Tables.load(spark, empty, "orders"))
    assert(e.getMessage.contains(s"$empty/orders.parquet"), e.getMessage)
    val drift = TestdataContract.drift(spark, empty)
    assert(drift.size == TestdataContract.expected.size, drift.mkString("\n"))
    TestdataContract.expected.keys.foreach(t =>
      assert(drift.exists(_.startsWith(s"$t: unreadable (")), drift.mkString("\n")))
  }

  test("events.ts values survive the load adaptation (sanity bounds)") {
    import org.apache.spark.sql.functions._
    val row = Tables.load(spark, sfDir, "events")
      .agg(min("ts").cast("string").as("lo"), max("ts").cast("string").as("hi"),
        count(lit(1)).as("n")).head()
    assert(row.getAs[Long]("n") > 0)
    // Generated event times are contemporary dates; a unit mix-up (ns read as
    // µs, or a 1000× off division) lands in 1970 or year 50k+.
    val (lo, hi) = (row.getAs[String]("lo"), row.getAs[String]("hi"))
    assert(lo >= "2000-01-01" && hi <= "2100-01-01",
      s"events.ts range [$lo, $hi] implausible — unit mix-up in Tables.load?")
  }
}
