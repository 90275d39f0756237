package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

/** Hand-computed cases for the Gopher rule gate and the run-length
  * character-diversity HOF — the two signals whose arithmetic (integer
  * cross-multiplied thresholds; sorted-run Σrun² without explode) is easy
  * to get subtly wrong and invisible in a registry-wide smoke test.
  */
class TextRulesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Write a tiny documents.parquet into a temp sf dir and return the dir. */
  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = SparkTestSession.tempDir("textrules")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_char_diversity: sorted-run stats match hand count") {
    // "aab ba" → spaces stripped "aabba" → a:3 b:2.
    // n=5, distinct=2, Σrun²=9+4=13, collision_bp=13*10000 div 25=5200,
    // top_char_bp=3*10000 div 5=6000.
    val dir = docsDir(Seq((7L, "aab ba", "en", "s1")))
    val out = ops.TextQueries2.textCharDiversity.fn(spark, dir).collect()
    assert(out.toSeq === Seq(Row(7L, 5L, 2L, 13L, 5200L, 6000L)))
  }

  test("text_char_diversity: single-run and all-distinct edges") {
    // "zzzz" → one run of 4: Σrun²=16, collision_bp=10000, top=10000.
    // "abcd" → four runs of 1: Σrun²=4, collision_bp=2500, top=2500.
    val dir = docsDir(Seq((1L, "zzzz", "en", "s1"), (2L, "abcd", "en", "s1")))
    val out = ops.TextQueries2.textCharDiversity.fn(spark, dir).collect()
    assert(out.toSeq === Seq(
      Row(1L, 4L, 1L, 16L, 10000L, 10000L),
      Row(2L, 4L, 4L, 4L, 2500L, 2500L)))
  }

  test("text_gopher_rules: per-rule attrition on crafted docs") {
    val passDoc = ("the a " + Seq.fill(58)("table").mkString(" "), "pass")
    val noStop  = (Seq.fill(60)("table").mkString(" "), "fail_stop")
    val tooShort = ("the a table", "fail_count")
    val dir = docsDir(Seq(
      (1L, passDoc._1, "en", "s1"),
      (2L, noStop._1, "en", "s1"),
      (3L, tooShort._1, "en", "s1")))
    val out = ops.TextQueries2.textGopherRules.fn(spark, dir).collect()
    // lang, n_docs, fail_wordlen, fail_alpha, fail_stop, fail_count, n_kept
    assert(out.toSeq === Seq(Row("en", 3L, 0L, 0L, 1L, 1L, 1L)))
  }

  test("short docs don't crash the n-gram queries (descending-sequence guard)") {
    // 1- and 2-token docs made sequence(1, size-k) count DOWN (Spark
    // defaults to step -1 when start > stop), so element_at saw index 0
    // (always an error) or an ANSI out-of-bounds — both guarded now.
    // doc_ids are multiples of 20 so the shingle query's sample keeps them.
    val dir = docsDir(Seq(
      (0L, "one", "en", "s1"),
      (20L, "two words", "en", "s1"),
      (40L, "three word doc here", "en", "s1"),
      (60L, "three word doc here", "en", "s1")))
    // shingles: only the 4-token twins can pair; short docs contribute none
    val sh = ops.TextQueries.dedupJaccardShingles.fn(spark, dir).collect()
    assert(sh.length === 1 && sh.head.getLong(0) === 40L, sh.toSeq.toString)
    // bigram LM: the 1-token doc is skipped, everything else counts
    val lm = ops.TextQueries2.textBigramLm.fn(spark, dir).collect()
    assert(lm.nonEmpty)
  }

  test("occurrenceCount: duplicates count, a null array gives null, no words is rejected") {
    import spark.implicits._
    val df = Seq(Some(Seq("the", "a", "the", "x", "")), Some(Seq.empty[String]), None)
      .toDF("t").repartition(1) // no local-relation folding
    val got = df.select(Tables.occurrenceCount($"t", Seq("the", "a", "y")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    assert(got.sorted === Seq(None, Some(0), Some(3)))
    val e = intercept[IllegalArgumentException](Tables.occurrenceCount($"t", Nil))
    assert(e.getMessage.contains("words must be non-empty"))
  }

  test("text_quality_classifier: decile enrichment is monotone in the aggregate") {
    // The trained filter's fitness-for-purpose gate (r14 verdict): a
    // classifier whose score does NOT concentrate label-good docs in the
    // top deciles is hash-matching garbage — the oracle can't see that,
    // only the enrichment curve can. Gated in the aggregate (keep-side
    // rates strictly above every drop-side rate, keep ≥ 2× drop overall)
    // rather than per-adjacent-decile: neighboring deciles differ by a
    // handful of docs at sf0.001 and flip rank on noise (measured:
    // 8979 → 8545 between deciles 3 and 4), but a real break — weights
    // learned from the wrong label, a feature-hash split between train
    // and score — flattens the whole curve, which this does catch.
    val rows = ops.RankingQueries.textQualityClassifier
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 10, s"expected 10 deciles, got ${rows.length}")
    val byDecile = rows.map(r => (r.getLong(0),
      (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val dropRates = (0L to 1L).map(d => byDecile(d)._4)
    val keepRates = (2L to 9L).map(d => byDecile(d)._4)
    assert(keepRates.min > dropRates.max,
      s"a keep decile's good-rate (${keepRates.min}) does not exceed the " +
        s"worst drop decile (${dropRates.max}) — enrichment broken")
    def rate(ds: Seq[Long]): Double = {
      val (n, g) = ds.foldLeft((0L, 0L)) { case ((n, g), d) =>
        (n + byDecile(d)._2, g + byDecile(d)._3) }
      g.toDouble / n
    }
    assert(rate(2L to 9L) >= 2 * rate(0L to 1L),
      s"keep-side enrichment ${rate(2L to 9L)} not 2x drop-side ${rate(0L to 1L)}")
  }
}
