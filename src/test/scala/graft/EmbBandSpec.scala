package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.{cosine, toDoubleArray}
import graft.ops.VectorQueries

/** Pins the embedding band-width knob ([[VectorQueries.embBandPairs]]
  * bitsPerBand — the production scale lever measured at 100×, BASELINE.md
  * "Embedding band-width knobs measured at 10×/100×"): at ANY width the verified pair set must stay an
  * exact subset of the all-pairs cosine truth (the verify stage is exact,
  * so widening bands may only LOSE pairs, never invent them), and widening
  * must actually shrink the candidate stage (the entire point of the
  * knob). All at sf0.001 — 500 vecs, where all-pairs truth is affordable.
  */
class EmbBandSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
  }

  private lazy val truth: Set[(Long, Long)] = {
    val v = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
    pairSet(v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Tables.basisPoints(cosine(col("a.v"), col("b.v"))) >= 1000)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id")))
  }

  test("verified pairs are an exact subset of all-pairs truth at both widths") {
    for (bits <- Seq(8, 12)) {
      val got = pairSet(VectorQueries.embVerifiedPairs(spark, sfDir, bits))
      assert(got.nonEmpty, s"bits=$bits found no pairs — gate is vacuous")
      val ghost = got -- truth
      assert(ghost.isEmpty,
        s"bits=$bits verified ${ghost.size} pairs NOT in the exact truth " +
          s"(e.g. ${ghost.take(3)}) — verify stage is no longer exact cosine")
    }
  }

  test("widening bands shrinks the candidate stage") {
    val c8 = VectorQueries.embBandCandidates(spark, sfDir, 8).count()
    val c12 = VectorQueries.embBandCandidates(spark, sfDir, 12).count()
    assert(c12 < c8,
      s"12-bit candidates ($c12) not below 8-bit ($c8) — knob is inert")
  }

  test("registry arm holds a recall floor on planted 0.9+ duplicate clusters") {
    // The r14 verdict's evidence gap: the organic fixture's top pair
    // cosine is 0.60, so recall measured there (~2-4%) says nothing about
    // production dedup. This gate runs the REGISTRY configuration (auto
    // width over the corpus count, exactly what dedup_embedding_lsh and
    // the streaming gate derive) against a planted corpus whose duplicate
    // structure is known by construction and VERIFIED by measurement:
    // a broken plane family (the r14 period-11 bug class) or a banding
    // rule split craters this to near-random single digits.
    val k = 64; val per = 8
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emb-planted").toString
    try {
      graft.tools.ScaleEvidence.plantedEmbeddings(spark, k, per)
        .repartition(2).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      val v = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
      val n = v.count()
      val truth = pairSet(v.as("a")
        .join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(Tables.basisPoints(cosine(col("a.v"), col("b.v"))) >= 9000)
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id")))
      // generator cleanliness: the measured duplicate truth must be
      // EXACTLY the within-cluster pairs — any excess is cross-cluster
      // clone contamination (the single-modulus periodicity bug this
      // generator's two-moduli mixing exists to prevent)
      assert(truth.size === k * per * (per - 1) / 2,
        s"planted truth ${truth.size} != within-cluster ${k * per * (per - 1) / 2} " +
          "— generator leaked cross-cluster structure")
      val bits = VectorQueries.autoEmbBits(n)
      val found = pairSet(VectorQueries.embVerifiedPairs(spark, dir, bits))
        .intersect(truth)
      val recall = found.size.toDouble / truth.size
      // measured 0.795 at auto(9)x2 on this exact corpus (band-width A/B r15, BASELINE.md);
      // floor at 0.6 leaves host-independent margin while still failing
      // loudly on any structural break
      assert(recall >= 0.6,
        f"registry-arm recall $recall%.3f below 0.6 floor on planted clusters")
    } finally graft.Tables.deleteTree(dir)
  }

  test("extra bands only ADD pairs: 12x4 is a superset of 12x2") {
    // provable, not just likely: signLsh's plane p depends only on (p, j),
    // so a 48-bit sig's low 24 bits equal the 24-bit sig, and 12x4's
    // bands 0-1 are exactly 12x2's bands — extra bands union in more
    // collision chances (the recall-buyback knob BASELINE.md measures at 10×/100×)
    val two = pairSet(VectorQueries.embVerifiedPairs(spark, sfDir, 12, 2))
    val four = pairSet(VectorQueries.embVerifiedPairs(spark, sfDir, 12, 4))
    val lost = two -- four
    assert(lost.isEmpty,
      s"12x4 dropped ${lost.size} pairs 12x2 found (e.g. ${lost.take(3)})")
    assert(four.size > two.size,
      s"4 bands found nothing beyond 2 (${four.size}) — buyback knob inert")
    assert((four -- truth).isEmpty, "12x4 verified pairs outside exact truth")
  }

  test("semantic decontamination == verified pairs straddling the benchmark boundary") {
    // pipeline_decontaminate_sem's asymmetric broadcast join (train bands
    // probing the broadcast benchmark slice) must find EXACTLY the
    // registry verified-pair set restricted to boundary-straddling pairs
    // — the set-equivalence its oracle note claims. Aggregated the same
    // way (per-label n_contam + contam_id_sum) so the comparison runs
    // against the query's actual output shape.
    import spark.implicits._
    val bits = VectorQueries.autoEmbBits(
      Tables.load(spark, sfDir, "embeddings").count())
    val vf = VectorQueries.embVerifiedPairs(spark, sfDir, bits)
    val expectIds = pairSet(vf).flatMap { case (a, b) =>
      if (a % 20 == 0 && b % 20 != 0) Some(b)
      else if (b % 20 == 0 && a % 20 != 0) Some(a)
      else None
    }
    assert(expectIds.nonEmpty,
      "no straddling verified pairs at sf0.001 — the check is vacuous")
    val labelOf = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val expect = expectIds.groupBy(labelOf).map { case (l, ids) =>
      l -> (ids.size.toLong, ids.sum)
    }
    val got = graft.ops.PipelineQueries.pipelineDecontaminateSem
      .fn(spark, sfDir)
      .filter(col("n_contam") > 0)
      .select(col("label"), col("n_contam"), col("contam_id_sum"))
      .as[(Int, Long, Long)].collect()
      .map { case (l, n, s) => l -> (n, s) }.toMap
    assert(got == expect,
      s"decontamination set diverged from the straddling verified pairs:\n" +
        s"  got    $got\n  expect $expect")
  }
}
