package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{LastValueAggregator, LastValueBuf, LastValueIn, RollingHashFn}
import graft.ops.Normalize
import org.apache.spark.unsafe.types.UTF8String

/** Property-based pins (deterministic ScalaCheck sampling, fixed seed):
  * distributed-correctness laws for the aggregator, totality for the parsers.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def samples[A](gen: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("geolocation parser is total: arbitrary strings never throw, always 3 fields") {
    import spark.implicits._
    val inputs = samples(Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.choose(-90.0, 90.0).flatMap(a => Gen.choose(-180.0, 180.0)
        .map(b => s"($a, $b)")),
      Gen.const(""), Gen.const("~"), Gen.const("(,)"), Gen.const("((1,2))")), 200)
      .distinct
    val rows = inputs.toDF("geo")
      .select(Normalize.parseGeolocationString(col("geo")).as("g"))
      .select("g.human_address", "g.latitude", "g.longitude")
      .collect()
    assert(rows.length === inputs.size) // no row lost, no exception
    // well-formed inputs round-trip
    val ok = inputs.zip(rows).collect {
      case (s, r) if s.matches("""\(-?\d+\.\d+(E-?\d+)?, -?\d+\.\d+(E-?\d+)?\)""") => r
    }
    assert(ok.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("rolling hash: fold law holds for arbitrary unicode strings") {
    val strs = samples(Gen.oneOf(Gen.asciiPrintableStr,
      Gen.listOf(Gen.choose(0x20, 0x2FFF)).map(_.map(_.toChar).mkString)), 200)
    for (s <- strs) {
      val expected = s.codePoints().toArray.foldLeft(0L)(
        (acc, cp) => (acc * 31 + cp) % RollingHashFn.Mod)
      assert(RollingHashFn.compute(UTF8String.fromString(s)) === expected, s"for '$s'")
    }
  }

  test("LastValueAggregator merge is commutative, associative, zero-neutral") {
    val bufGen = for {
      ms <- Gen.choose(-1000L, 1000L)
      id <- Gen.choose(0L, 50L)
      c <- Gen.choose(-500L, 500L)
      set <- Gen.oneOf(true, false)
    } yield if (set) LastValueBuf(ms, id, c, set = true) else LastValueAggregator.zero
    val bufs = samples(bufGen, 120)
    val A = LastValueAggregator
    for (a <- bufs.take(30); b <- bufs.slice(30, 60)) {
      // merge breaks exact (ms, id) ties by keeping its FIRST argument, so
      // commutativity genuinely does not hold on tied keys with different
      // payloads — that case cannot occur in the real domain (event ids
      // are unique) and asserting it here made the test a seed-dependent
      // coin flip (~1% tie odds per run)
      val tied = a.set && b.set && a.ms == b.ms && a.id == b.id
      if (!tied)
        assert(A.merge(a, b) === A.merge(b, a), s"commutativity for $a, $b")
      assert(A.merge(a, A.zero) === a)
    }
    for (a <- bufs.take(15); b <- bufs.slice(15, 30); c <- bufs.slice(30, 45)) {
      assert(A.merge(A.merge(a, b), c) === A.merge(a, A.merge(b, c)),
        s"associativity for $a, $b, $c")
    }
  }

  test("codegen CosineSimilarity is bit-identical to the HOF reference formulation") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    val vecGen = Gen.listOfN(64, Gen.choose(-1.0, 1.0))
    val pairs = samples(Gen.zip(vecGen, vecGen), 100)
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      VectorFunctions.cosine($"a", $"b").as("fast"),
      VectorFunctions.cosineHof($"a", $"b").as("ref")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"bit mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("SigOverlapAtLeast(a, b, k) == (SigOverlap(a, b) >= k) for every k in 0..n+1") {
    import spark.implicits._
    import graft.ops.DedupQueries
    // signature-like arrays with forced collision structure: values from a
    // tiny domain so positionwise matches are common, plus the exact-equal
    // and fully-distinct extremes
    val sigGen = Gen.listOfN(64, Gen.choose(0L, 3L))
    val pairs = samples(Gen.zip(sigGen, sigGen), 60) ++
      samples(sigGen, 5).map(s => (s, s)) ++
      Seq(((0L until 64L).toList, (64L until 128L).toList))
    val df = pairs.toDF("a", "b")
    for (k <- Seq(0, 1, 20, DedupQueries.VerifyMin, 64, 65)) {
      val rows = df.select(
        DedupQueries.sigOverlapAtLeast($"a", $"b", k).as("fast"),
        (DedupQueries.sigOverlap($"a", $"b") >= k).as("ref")).collect()
      rows.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1),
        s"early-exit form diverged from the count at k=$k"))
    }
  }

  test("minhash_sig: interpreted == codegen == HOF reference, nulls included") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import graft.functions.MinhashSig
    import graft.ops.DedupQueries
    // the pre-kernel row-local form, kept here as the reference only
    def hofSig(t: org.apache.spark.sql.Column) = {
      val hs = transform(array_distinct(t),
        x => graft.functions.RollingHash(x) % DedupQueries.TokMod)
      array((0 until DedupQueries.NumPerms).map(s => array_min(transform(hs,
        h => (lit(DedupQueries.permA(s)) * h + lit(DedupQueries.permB(s))) %
          lit(DedupQueries.P)))): _*)
    }
    // small vocabulary so duplicates are common; "" and nulls as elements;
    // surrogate pairs exercise the code-point hash
    val tok = Gen.frequency(8 -> Gen.oneOf("spark", "scan", "join", "a", "Zürich",
        "😀", "x𐐷y", "∆"), 2 -> Gen.const(""),
      1 -> Gen.const(null: String), 3 -> Gen.alphaNumStr)
    val arrays: Seq[Seq[String]] = samples(Gen.listOf(tok), 200) ++
      Seq(Seq.empty, Seq(null), Seq(null, null), Seq(""), null)
    val ref = arrays.toDF("t").repartition(3) // no local-relation folding
      .select($"t", hofSig($"t").as("sig")).collect()
      .map(r => Option(r.getSeq[String](0)) -> r.getSeq[java.lang.Long](1))
    assert(ref.length === arrays.length)
    val expr = MinhashSig(BoundReference(0, ArrayType(StringType), nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr), true)
    def asSeq(a: ArrayData): Seq[java.lang.Long] =
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else java.lang.Long.valueOf(a.getLong(i)))
    for ((t, want) <- ref) {
      val row = InternalRow(t.map(ts => new GenericArrayData(
        ts.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any]))
        .orNull)
      assert(asSeq(expr.eval(row).asInstanceOf[ArrayData]) === want,
        s"interpreted, for $t")
      assert(asSeq(proj(row).getArray(0)) === want, s"codegen, for $t")
      assert(want.length === DedupQueries.NumPerms)
      assert(want.forall(_ == null) === t.forall(_.forall(_ == null)), s"for $t")
    }
    // whole-stage codegen path, against the same reference
    val wsc = arrays.toDF("t").repartition(3).select($"t", MinhashSig($"t").as("sig"))
    val got = wsc.collect()
      .map(r => Option(r.getSeq[String](0)) -> r.getSeq[java.lang.Long](1))
    assert(got.toMap === ref.toMap)
    assert(wsc.queryExecution.executedPlan.toString.split("\n")
        .exists(l => l.contains("*(") && l.contains("minhash_sig")),
      "minhash_sig fell out of whole-stage codegen")
  }

  test("LastValueAggregator result is invariant to input order") {
    val inGen = for {
      ms <- Gen.choose(0L, 100L); id <- Gen.choose(0L, 10000L)
      c <- Gen.choose(0L, 99L)
    } yield LastValueIn(ms, id, c)
    val rng = new scala.util.Random(7)
    // one input set, thirty SHUFFLES — the samples() call is seed-fixed, so
    // regenerating it inside the loop produced the same list 30 times over
    val ins = samples(inGen, 40).distinct
    for (_ <- 0 until 30) {
      val direct = ins.foldLeft(LastValueAggregator.zero)(LastValueAggregator.reduce)
      val shuffled = rng.shuffle(ins)
        .grouped(7)
        .map(g => g.foldLeft(LastValueAggregator.zero)(LastValueAggregator.reduce))
        .foldLeft(LastValueAggregator.zero)(LastValueAggregator.merge)
      assert(LastValueAggregator.finish(direct) === LastValueAggregator.finish(shuffled))
    }
  }

  test("to_xml -> from_xml escaping law: markup-hazard strings round-trip exactly") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // The xml_funcs registry query rides fixture strings that never need
    // escaping; a 100 TB text corpus WILL contain markup. Generate the
    // hazards explicitly: entity chars, CDATA openers, pre-escaped
    // entities (must NOT double-unescape), surrounding whitespace, plus
    // arbitrary printable ASCII and BMP unicode. Out of scope by XML 1.0
    // itself: control chars (invalid in documents) and \r\n (the spec
    // mandates line-ending normalization), so generators stay above 0x20.
    val hazard = Gen.oneOf("<", ">", "&", "\"", "'", "]]>", "<![CDATA[",
      "&amp;", "&#60;", "<tag attr=\"v\">", "a & b < c", " padded ")
    val strGen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.oneOf(hazard, Gen.asciiPrintableStr)).map(_.mkString),
      Gen.listOf(Gen.choose(0x20, 0x2FFF)).map(_.map(_.toChar).mkString))
    val inputs = ("" +: samples(strGen, 250)).distinct
    assert(inputs.exists(s => s.contains("<") || s.contains("&")),
      "generator must actually produce markup hazards")
    val rows = inputs.toDF("s")
      .withColumn("x", to_xml(struct(col("s"))))
      .withColumn("rt", from_xml(col("x"),
        org.apache.spark.sql.types.StructType.fromDDL("s STRING"),
        // the shared read contract (default true would trim " padded ")
        Tables.xmlFidelityOptions.asJava))
      .select(col("s"), col("rt.s").as("back"))
      .collect()
    val bad = rows.filter(r => r.isNullAt(1) || r.getString(0) != r.getString(1))
    assert(bad.isEmpty, s"${bad.length} escaping violations, e.g. " +
      bad.take(5).map(r => s"'${r.getString(0)}' -> '${r.get(1)}'").mkString("; "))
  }

  /** Text-format hazard corpus: delimiter/quote/escape/newline/padding
    * traps plus arbitrary printable ASCII and BMP unicode. Control chars
    * and \r stay out of scope (CSV/XML specs both normalize or forbid
    * them).
    */
  private def textHazards(): Seq[String] = {
    val hazard = Gen.oneOf(",", "\"", "\"\"", "a,b", "\"quoted\"", "a\nb",
      "line1\nline2,x", " padded ", "a'b", "back\\slash", "\\\"")
    val strGen = Gen.oneOf(
      Gen.asciiPrintableStr.filter(_.nonEmpty),
      Gen.listOf(Gen.oneOf(hazard, Gen.asciiPrintableStr)).map(_.mkString)
        .filter(_.nonEmpty),
      Gen.listOf(Gen.choose(0x20, 0x2FFF)).map(_.map(_.toChar).mkString)
        .filter(_.nonEmpty))
    samples(strGen, 250).distinct
  }

  test("CSV write->read quoting law: separators, quotes and embedded newlines round-trip") {
    import spark.implicits._
    // source_format_roundtrip feeds CSV only order-code strings; corpus
    // text carries the quoting hazards. Two options are REQUIRED for
    // fidelity and are part of what this pins: multiLine=true on the read
    // side (default line-splitting shreds embedded newlines mid-record),
    // and escape="\"" on BOTH sides (RFC 4180 doubled quotes) — the
    // default backslash escape is ASYMMETRIC for text that itself
    // contains backslashes (the writer leaves a lone backslash bare, the
    // reader then eats it as an escape; measured 16/250 violations before
    // the option).
    val inputs = textHazards()
    assert(inputs.exists(s => s.contains("\n")) &&
      inputs.exists(s => s.contains("\"")),
      "generator must produce newline and quote hazards")
    withTempDir("graft-csvlaw") { tmp =>
      val df = inputs.zipWithIndex.map(_.swap).toDF("id", "s")
      // the SHARED contract (Tables.csvFidelityOptions) — referencing the
      // same constant the roundtrip audit uses is what makes this test a
      // drift guard for the query's options, not a parallel copy
      df.write.mode("overwrite")
        .option("header", "true").options(Tables.csvFidelityOptions)
        .csv(tmp)
      val raw = spark.read
        .schema("id INT, s STRING")
        .option("header", "true").option("multiLine", "true")
        .options(Tables.csvFidelityOptions)
        .csv(tmp)
        .collect()
      // a null id means a record was shredded mid-field — surface that as
      // its own diagnostic instead of an opaque getInt NPE
      assert(raw.forall(!_.isNullAt(0)),
        s"shredded CSV record (null id): ${raw.filter(_.isNullAt(0)).take(3).mkString}")
      val back = raw.map(r => r.getInt(0) -> r.getString(1)).toMap
      val bad = inputs.zipWithIndex.filter { case (s, i) =>
        !back.get(i).contains(s)
      }
      assert(bad.isEmpty, s"${bad.length} quoting violations, e.g. " +
        bad.take(5).map { case (s, i) => s"'$s' -> '${back.get(i)}'" }
          .mkString("; "))
    }
  }

  test("JSON lines is default-fidelity-safe: the same hazard corpus round-trips with zero options") {
    import spark.implicits._
    // the point of this pin, next to the CSV law above: of the three text
    // formats, only JSON lines preserves arbitrary text with NO options —
    // its writer escapes newlines/quotes/backslashes in-band
    val inputs = textHazards()
    withTempDir("graft-jsonlaw") { tmp =>
      inputs.zipWithIndex.map(_.swap).toDF("id", "s")
        .write.mode("overwrite").json(tmp)
      val raw = spark.read.schema("id INT, s STRING").json(tmp).collect()
      assert(raw.forall(!_.isNullAt(0)),
        s"mis-parsed JSON record (null id): ${raw.filter(_.isNullAt(0)).take(3).mkString}")
      val back = raw.map(r => r.getInt(0) -> r.getString(1)).toMap
      val bad = inputs.zipWithIndex.filter { case (s, i) =>
        !back.get(i).contains(s)
      }
      assert(bad.isEmpty, s"${bad.length} JSON violations, e.g. " +
        bad.take(5).map { case (s, i) => s"'$s' -> '${back.get(i)}'" }
          .mkString("; "))
    }
  }

  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(tmp)
    finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try walk.forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }
}
