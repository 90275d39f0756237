package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.DedupQueries

/** Pins the sketch semantics that the rows-only driver check can't:
  * identical docs collide exactly; similar docs land near; dissimilar don't.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = "spark scan filter join group sort merge window batch stream"
  private val docs = Seq(
    (0L, base, "en"),
    (1L, base, "en"),                                        // exact dup of 0
    (2L, base.replace("stream", "table"), "en"),             // 1-token change
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    (4L, base, "fr")                                         // dup but other lang
  ).toDF("doc_id", "text", "lang")

  test("minhash: identical texts give identical signatures") {
    val sigs = DedupQueries.minhashSignatures(docs)
      .select($"doc_id", $"sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) === sigs(4L)) // signature is lang-independent
    assert(sigs(0L) !== sigs(3L))
  }

  test("minhash: similar texts share most signature components, dissimilar few") {
    val sigs = DedupQueries.minhashSignatures(docs)
      .select($"doc_id", $"sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def overlap(a: Long, b: Long) = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
    assert(overlap(0L, 2L) >= 45, s"1-token-change overlap ${overlap(0L, 2L)}/64")
    assert(overlap(0L, 3L) <= 10, s"disjoint-vocab overlap ${overlap(0L, 3L)}/64")
  }

  test("row-local band keys equal the batch signature banding exactly") {
    // stream_neardup_gate's whole correctness argument is that
    // minhashBandKeys (array-transform, within-row) produces the SAME
    // values as the batch explode+agg signature path — pin it for both
    // the batch banding (16) and the gate's wide banding (4)
    val sigs = DedupQueries.minhashSignatures(docs)
      .select($"doc_id", $"lang", $"sig").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getSeq[Long](2)).toMap
    val bandMod = 1099511627776L // 2^40, the DedupQueries band modulus
    def expected(bands: Int) = sigs.flatMap { case ((id, lang), sig) =>
      val rows = 64 / bands
      (0 until bands).map { b =>
        val bh = (0 until rows).foldLeft(0L)(
          (acc, i) => (acc * 8191L + sig(b * rows + i)) % bandMod)
        (id, lang, b, bh)
      }
    }.toSet
    for (bands <- Seq(16, 4)) {
      val got = DedupQueries.minhashBandKeys(docs, bands).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(got === expected(bands), s"bands=$bands")
    }
  }

  test("simhash: identical texts give identical fingerprints, similar are near") {
    // thresholds scaled to the 30-bit fingerprint: expected hamming between
    // unrelated docs ≈ 15; measured 1-token-change = 9, disjoint-vocab = 14
    val fps = DedupQueries.simhashFingerprints(docs)
      .select($"doc_id", $"fp").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b))
    assert(hamming(0L, 1L) === 0)
    assert(hamming(0L, 2L) <= 10, s"1-token-change hamming ${hamming(0L, 2L)}")
    assert(hamming(0L, 3L) > 11, s"disjoint-vocab hamming ${hamming(0L, 3L)}")
  }

  test("16x4 banding recovers >= 99% of the exact verified-truth pair set (fixture)") {
    // The contract the band-shape A/B measured at sf0.1 (recall 0.99993 vs
    // the banding-independent truth; 8x8 drops to 0.729 — BASELINE r16),
    // gated here at sf0.001 so a band-shape or band-hash regression fails
    // CI instead of silently shrinking every minhash family's held set.
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sigs = DedupQueries.minhashSignatures(corpus).localCheckpoint()
    val a = sigs.select($"lang", $"doc_id".as("a_id"), $"sig".as("sa"))
    val b = sigs.select($"lang", $"doc_id".as("b_id"), $"sig".as("sb"))
    val truth = a.join(b, Seq("lang")).filter($"a_id" < $"b_id")
      .filter(DedupQueries.sigOverlapAtLeast($"sa", $"sb", DedupQueries.VerifyMin))
      .select($"a_id", $"b_id").localCheckpoint()
    val nTruth = truth.count()
    assert(nTruth > 0, "fixture lost its verified-truth pairs")
    val bands = DedupQueries.bandsFromSig(sigs, DedupQueries.MinhashBands)
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bh" === $"y.bh" &&
        $"x.lang" === $"y.lang" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("a_id"), $"y.doc_id".as("b_id")).distinct()
    val hits = truth.join(cand, Seq("a_id", "b_id"), "left_semi").count()
    assert(hits * 100 >= nTruth * 99,
      s"16x4 banding recall degraded: $hits of $nTruth truth pairs")
  }

  test("rolling_hash custom expression: interpreted == codegen == reference fold") {
    import graft.functions.{RollingHash, RollingHashFn}
    val df = Seq("abc", "", "Zürich ∆").toDF("s")
      .select(RollingHash($"s").as("h"))
    def ref(s: String): Long = {
      var acc = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); acc = (acc * 31 + cp) % RollingHashFn.Mod
        i += Character.charCount(cp)
      }
      acc
    }
    assert(df.collect().map(_.getLong(0)).toSeq === Seq("abc", "", "Zürich ∆").map(ref))
    // SQL registration: LocalSession's GraftExtensions
    val viaSql = spark.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
    assert(viaSql === ref("abc"))
  }
}
