package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Tables.{basisPoints, load}
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (north-star extension):
  * brute-force cosine top-k as the exactness baseline, IVF-style partitioned
  * search as the scale path, and sign-LSH banding for near-duplicate
  * candidate generation.
  *
  * Scale posture: the query side is always the small side → broadcast it;
  * the corpus side streams through a single scan. Similarities are
  * floor-scaled to basis points ([[graft.Tables.basisPoints]]) BEFORE any
  * ranking so rank order can't depend on sub-bp float noise.
  */
object VectorQueries {

  /** vectors as (id, DOUBLE[64]) — float→double cast keeps both engines on
    * the identical double-double IEEE path.
    */
  private def vecs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    load(spark, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))

  private val DuckVecs =
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

  /** sim_bp SQL twin of basisPoints(cosine(a,b)) */
  private def duckSim(a: String, b: String) =
    s"CAST(floor(list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b)) * 10000 + 0.5) AS BIGINT)"

  /** Brute-force cosine top-10 for a fixed query set (vec_id < 8): broadcast
    * queries × corpus scan — the exact baseline every ANN variant is
    * measured against. O(Q·N) similarity evaluations, one shuffle for the
    * per-query rank.
    */
  val annBruteforce = QueryDef(
    "ann_bruteforce",
    (spark, dir) => {
      val e = vecs(spark, dir)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim_bp").desc, col("vec_id"))
      e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          basisPoints(cosine(col("qv"), col("v"))).as("sim_bp"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("rn"), col("vec_id"), col("sim_bp"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""
      WITH e AS ($DuckVecs),
           q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
           s AS (SELECT qid, vec_id, ${duckSim("qv", "v")} AS sim_bp
                 FROM q JOIN e ON vec_id <> qid),
           r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim_bp DESC, vec_id) AS rn FROM s)
      SELECT qid, rn, vec_id, sim_bp FROM r WHERE rn <= 10
      ORDER BY qid, rn"""))

  /** IVF-style ANN: deterministic coarse quantizer (first 16 vectors as
    * centroids — a k-means stand-in that keeps the query oracle-replayable),
    * assign every vector to its best centroid, probe the 4 nearest cells per
    * query, exact re-rank inside the probed cells.
    *
    * Scale path: assignment is a broadcast (centroids) map-side scan; search
    * touches nprobe/ncells of the corpus instead of all of it. At real scale
    * the assignment would be written once as a bucketed table, not recomputed.
    */
  val annIvf = QueryDef(
    "ann_ivf",
    (spark, dir) => {
      val e = vecs(spark, dir)
      val cent = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assignW = Window.partitionBy(col("vec_id")).orderBy(col("sbp").desc, col("cid"))
      val assign = e.join(broadcast(cent), lit(true))
        .select(col("vec_id"), col("v"), col("cid"),
          basisPoints(cosine(col("v"), col("cv"))).as("sbp"))
        .withColumn("arn", row_number().over(assignW))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("v"), col("cid"))
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val probeW = Window.partitionBy(col("qid")).orderBy(col("sbp").desc, col("cid"))
      val probes = q.join(broadcast(cent), lit(true))
        .select(col("qid"), col("qv"), col("cid"),
          basisPoints(cosine(col("qv"), col("cv"))).as("sbp"))
        .withColumn("prn", row_number().over(probeW))
        .filter(col("prn") <= 4)
        .select(col("qid"), col("qv"), col("cid"))
      val rankW = Window.partitionBy(col("qid")).orderBy(col("sim_bp").desc, col("vec_id"))
      probes.join(assign, "cid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          basisPoints(cosine(col("qv"), col("v"))).as("sim_bp"))
        .withColumn("rn", row_number().over(rankW))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("rn"), col("vec_id"), col("sim_bp"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""
      WITH e AS ($DuckVecs),
           cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
           ascore AS (SELECT e.vec_id, e.v, cid, ${duckSim("e.v", "cv")} AS sbp
                      FROM e CROSS JOIN cent),
           assign AS (SELECT vec_id, v, cid FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY sbp DESC, cid) AS arn FROM ascore)
                      WHERE arn = 1),
           q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
           pscore AS (SELECT qid, qv, cid, ${duckSim("qv", "cv")} AS sbp
                      FROM q CROSS JOIN cent),
           probes AS (SELECT qid, qv, cid FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY sbp DESC, cid) AS prn FROM pscore)
                      WHERE prn <= 4),
           s AS (SELECT qid, vec_id, ${duckSim("qv", "v")} AS sim_bp
                 FROM probes JOIN assign USING (cid)
                 WHERE vec_id <> qid),
           r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim_bp DESC, vec_id) AS rn FROM s)
      SELECT qid, rn, vec_id, sim_bp FROM r WHERE rn <= 10
      ORDER BY qid, rn"""))

  /** THE sign-LSH banding rule (registry: [[EmbBands]] bands of
    * [[autoEmbBits]]-derived width over a 2·bits-bit `sig`) as (band
    * index, band value) columns — stated ONCE Spark-side (review pass:
    * the rule lived in both the batch pairs and the streaming engine; a
    * one-site band-width change would silently split them). The SQL twin
    * lives inside [[duckEmbPairsCtes]].
    *
    * `bitsPerBand` and `nBands` are the PRODUCTION SCALE KNOBS, the
    * standard LSH (b, r) pair: bucket occupancy — and so candidate-pair
    * volume — rises with corpus size at fixed width, so a growing corpus
    * widens bands (≈ +log₂(growth) bits holds occupancy flat — the
    * [[DedupQueries.simhashBands]] bitsPerBand / [[DedupQueries
    * .autoBandBits]] precedent), and band COUNT buys back the recall that
    * widening costs (each extra band is one more independent chance to
    * collide, at volume linear in bands). Since r15 the WIDTH knob is
    * wired to the corpus count (the r14 verdict's top ask — the static
    * 8×2 arm measured quadratic at 100×); both knobs' cost/recall trades
    * at 10×/100× are in BASELINE.md, "Embedding band-width knobs measured at 10×/100×".
    */
  /** THE registry banding config — one site for both engines AND the
    * sig width: the streaming gate once hardcoded signLsh(v, 16) next to
    * a comment claiming the rule was one-site (second review pass); a
    * default-knob change would have split the stream's 16-bit sig from
    * the batch/oracle 2·bits-bit sig, leaving band 1's shift-mask
    * reading zero-padded garbage bits. Deriving the width as
    * EmbBands * bitsPerBand everywhere makes the knob move batch,
    * stream, and oracle together.
    *
    * The WIDTH is no longer a static 8: it AUTO-SIZES from the corpus
    * count ([[autoEmbBits]]) — the `DedupQueries.autoBandBits` /
    * `dedup_semantic` auto-k precedent, promoted to the embedding family
    * after the band-width A/B (BASELINE.md) measured the fixed 8×2 arm's candidate
    * volume growing ~quadratically with corpus (178.7 M pre-distinct
    * pairs at 100×, 0.10×/row stream wall) while +4 width bits cut it
    * ~15×. Registry queries derive bits from one count job (parquet
    * metadata only — count(*) never scans data pages); the DuckDB twin
    * derives the SAME ladder from COUNT(*) in a scalar `w` CTE, so both
    * engines' geometry moves in lockstep at every scale factor.
    */
  private[graft] val EmbBands = 2
  private[graft] val EmbMinBits = 8
  private[graft] val EmbMaxBits = 14

  /** Band width from corpus count: the smallest b in [EmbMinBits,
    * EmbMaxBits] with 2^b ≥ n — i.e. clamp(⌈log₂ n⌉, 8, 14), stated as an
    * integer ladder so the DuckDB twin (integer CASE thresholds, see
    * [[duckEmbPairsCtes]]) is exact-mirror arithmetic, not a float log2
    * whose rounding could split the engines at a power-of-two boundary.
    * Keeps expected bucket occupancy per band ≤ ~1 until the 14-bit
    * clamp; beyond 16 K vectors occupancy grows again and the band
    * COUNT knob takes over. MEASURED past the clamp (r16 band-width A/B,
    * planted 16 K/33 K-vector cluster corpora): at fixed auto(14)×2 the
    * candidate-volume curve re-steepens (122 K → 295 K pairs for 2×
    * vectors, ×2.41) with recall pinned ~0.645; widening further
    * (16×2) costs 6 recall points for ~-30 % volume — rejected; DOUBLING
    * BANDS (14×4) holds recall at 0.868 at both sizes for ×2 volume —
    * the production scale-out, already parameterized (`nBands` on
    * [[embBandPairs]]/[[embBandRows]]). Full rows in BASELINE.md.
    */
  private[graft] def autoEmbBits(nVecs: Long): Int = {
    var b = EmbMinBits
    while (b < EmbMaxBits && (1L << b) < nVecs) b += 1
    b
  }

  private[graft] def embBandPairs(
      sig: Column, bitsPerBand: Int,
      nBands: Int = EmbBands): Seq[(Int, Column)] = {
    require(bitsPerBand * nBands <= 62,
      s"sig is one long: $nBands bands x $bitsPerBand bits overflow")
    // bit ops, not floor(sig / 2^k): double division is only exact below
    // 53 sig bits, and the band value feeds the store's hash partitioning
    (0 until nBands).map { b =>
      b -> shiftrightunsigned(sig, b * bitsPerBand)
        .bitwiseAND(lit((1L << bitsPerBand) - 1))
    }
  }

  /** One (vec_id[, v], band, bv) row per vector per band: ONE corpus
    * scan, ONE signature eval, bands by posexplode — a per-band unionAll
    * re-scans the corpus and re-evaluates the 64-dim×nBits signLsh HOF
    * once per band (measured: the 12x4 arm's 48-plane signature paid 4×,
    * making it slower at 100× than 8x2 at 5.6× the candidate volume).
    * Shared by [[embBandCandidates]] and [[embVerifiedPairs]] so the
    * band-row construction — like the band RULE in [[embBandPairs]] —
    * is stated once (`carryV` is the only difference: the verify path
    * needs the vectors in-stream, the counting path must stay narrow).
    */
  private[graft] def embBandRows(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bitsPerBand: Int, nBands: Int, carryV: Boolean)
      : org.apache.spark.sql.DataFrame =
    embBandRowsOf(vecs(spark, dir), bitsPerBand, nBands, carryV)

  /** [[embBandRows]] over an arbitrary (vec_id, v) frame — split out in
    * r17 so `pipeline_decontaminate_sem` can band a corpus SLICE (its
    * train/benchmark sides) through the same one-scan construction
    * instead of carrying a private copy of the scaffolding.
    */
  private[graft] def embBandRowsOf(
      e: org.apache.spark.sql.DataFrame,
      bitsPerBand: Int, nBands: Int, carryV: Boolean)
      : org.apache.spark.sql.DataFrame = {
    val keep = if (carryV) Seq(col("vec_id"), col("v")) else Seq(col("vec_id"))
    val sig = e.select((keep :+
      signLsh(col("v"), nBands * bitsPerBand).as("sig")): _*)
    sig.select((keep :+ posexplode(array(
        embBandPairs(col("sig"), bitsPerBand, nBands).map(_._2): _*))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
  }

  /** Distinct band-candidate pairs (a_id < b_id, ids ONLY) at the given
    * (width, bands) — the volume the knobs control, split out so
    * `EmbBandSpec` can gate the candidate stage the verify stage then
    * prunes (the band-width A/B in BASELINE.md counted volume
    * analytically from bucket occupancy instead — no pair join at all).
    */
  private[graft] def embBandCandidates(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bitsPerBand: Int, nBands: Int = EmbBands)
      : org.apache.spark.sql.DataFrame = {
    val bands = embBandRows(spark, dir, bitsPerBand, nBands, carryV = false)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  /** All VERIFIED embedding near-dup pairs (a_id < b_id): sign-LSH band
    * candidates (registry: 2 bands × 8 bits) confirmed by exact cosine
    * ≥ 1000 bp — extracted from `dedup_embedding_lsh` so the streaming
    * semantic gate's comparison set (its spec) can never drift from the
    * batch query: an engine bug cannot vouch for itself. Deliberately NOT
    * cached (unlike [[DedupQueries.verifiedPairs]], review pass): the
    * only bench-time consumer is `dedup_embedding_lsh` itself, so a
    * plan-keyed cache would buy no sharing and silently convert that
    * query's timed passes into warm-cache reads — deflating a
    * long-tracked bench number and poisoning round-over-round drift
    * adjudication. The spec recomputes at sf0.001, a ~1 s cost.
    *
    * VERIFY-THEN-DISTINCT (band-width A/B finding, two dead ends deep): the
    * candidate×vector intermediate must never be exchanged. Attaching
    * vectors AFTER a distinct on id pairs needs a join per side, and ANY
    * join strategy repartitions the pair frame — by then it carries a
    * 64-dim array per side, ~160 GB of exchange at 100× (sort-merge
    * additionally sorts it: GC-thrashed; shuffled-hash still spilled the
    * disk). Instead the band self-join CARRIES the vectors (its inputs
    * are corpus-sized, ~220 MB at 100×), the exact-cosine filter runs
    * in-stream on the join output with no shuffle at all, and the
    * distinct runs on the VERIFIED id pairs — the small side (≤ nBands×
    * duplicate cosine evals for pairs colliding in several bands, a few
    * cheap flops against an exchange that scales with candidate volume).
    * Set-equal to distinct-then-verify: verification is deterministic
    * per pair.
    */
  private[graft] def embVerifiedPairs(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      bitsPerBand: Int, nBands: Int = EmbBands)
      : org.apache.spark.sql.DataFrame = {
    val bands = embBandRows(spark, dir, bitsPerBand, nBands, carryV = true)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(basisPoints(cosine(col("a.v"), col("b.v"))) >= 1000)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  /** The DuckDB CTE chain ending in `vf(a_id, b_id)` — the oracle twin of
    * [[embVerifiedPairs]], shared by `dedup_embedding_lsh` and the
    * streaming semantic gate so the pair rule is stated once per engine.
    *
    * The band width comes from the scalar `w` CTE — the exact integer
    * ladder of [[autoEmbBits]] over the same COUNT(*). The signature is
    * generated at the MAX width (2·EmbMaxBits planes) with every plane
    * gated by `p < 2·bits`, so one SQL string serves every derived width;
    * the band split uses `>>`/`&` (the `dedup_containment` twin's bit
    * ops), NOT floor division — DuckDB `/` on integers is double
    * division, inexact past 53 sig bits (ADVICE r14), and now also
    * unable to consume the scalar `bits`.
    */
  private[graft] lazy val duckEmbPairsCtes: String = {
    val bitTerms = (0 until EmbBands * EmbMaxBits).map { p =>
      s"""(CASE WHEN $p < ${EmbBands} * bits AND list_dot_product(v, list_transform(range(0, len(v)),
         | j -> CAST((((${5 * p} + 7 * j + ${7 * p} * j + 3) % 67) % 11) - 5 AS DOUBLE))) > 0
         | THEN ${1L << p} ELSE 0 END)""".stripMargin.replace("\n", " ")
    }.mkString(" + ")
    val ladder = (EmbMinBits until EmbMaxBits)
      .map(b => s"WHEN COUNT(*) <= ${1L << b} THEN $b")
      .mkString(" ")
    s"""e AS ($DuckVecs),
       |w AS (SELECT CASE $ladder ELSE $EmbMaxBits END AS bits FROM e),
       |sig AS (SELECT vec_id, v, CAST($bitTerms AS BIGINT) AS sig FROM e, w),
       |bands AS (SELECT vec_id, v, band,
       |                 (sig >> (band * bits)) & ((1::BIGINT << bits) - 1) AS bv
       |          FROM sig, w,
       |               (SELECT unnest([${(0 until EmbBands).mkString(", ")}]) AS band) bs),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
       |                a.v AS av, b.v AS bv2
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
       |                                  AND a.vec_id < b.vec_id),
       |verified AS (SELECT a_id, b_id, ${duckSim("av", "bv2")} AS sim_bp FROM cand),
       |vf AS (SELECT a_id, b_id FROM verified WHERE sim_bp >= 1000)""".stripMargin
  }

  /** Embedding near-duplicate detection via sign-LSH banding: a
    * 2·bits-bit signature split into two bands, width auto-sized from the
    * corpus count ([[autoEmbBits]] — one metadata-only count job, the
    * oracle's scalar `w` CTE derives the same ladder); same (band, value)
    * → candidate pair; candidates verified by exact cosine; summarized
    * per vector (partner count + canonical min-id), so output stays O(N)
    * even when the corpus is homogeneous.
    */
  val dedupEmbeddingLsh = QueryDef(
    "dedup_embedding_lsh",
    (spark, dir) => {
      val e = vecs(spark, dir)
      // literal bits, not a broadcast scalar: the width shapes the PLAN
      // (signature expression + band split), same discipline as
      // dedup_semantic's literal k
      val verified = embVerifiedPairs(spark, dir, autoEmbBits(e.count()))
      val partners = verified.select(col("a_id").as("vec_id"), col("b_id").as("partner"))
        .unionAll(verified.select(col("b_id").as("vec_id"), col("a_id").as("partner")))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_near"), min(col("partner")).as("min_partner"))
      e.select(col("vec_id")).join(partners, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          least(col("vec_id"), coalesce(col("min_partner"), col("vec_id"))).as("canonical_id"))
        .orderBy(col("vec_id"))
    },
    // oracle: the shared pair chain (stated once per engine) + summary
    Some(s"""
      WITH $duckEmbPairsCtes,
           partners AS (SELECT vec_id, COUNT(*) AS n_near, MIN(partner) AS min_partner
                        FROM (SELECT a_id AS vec_id, b_id AS partner FROM vf
                              UNION ALL
                              SELECT b_id AS vec_id, a_id AS partner FROM vf)
                        GROUP BY vec_id)
      SELECT e.vec_id,
             COALESCE(n_near, 0) AS n_near,
             LEAST(e.vec_id, COALESCE(min_partner, e.vec_id)) AS canonical_id
      FROM e LEFT JOIN partners ON e.vec_id = partners.vec_id
      ORDER BY e.vec_id"""))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * embedding space (deterministic coarse quantizer — the first k vectors
    * as centroids, the oracle-replayable k-means stand-in also used by
    * `ann_ivf`), then prune near-duplicates WITHIN each cluster only: a
    * vector is dropped when an earlier (lower-id) member of its cluster is
    * within the similarity threshold (3000 bp, chosen from the corpus'
    * measured intra-cluster cosine distribution: p99 ≈ 3400 bp, so the cut
    * keeps ~99% of pairs apart). Emits one row per vector — cluster id,
    * keep/drop, the canonical earlier member it duplicates, and the best
    * similarity — so the output stays O(N).
    *
    * Scale posture: k AUTO-SIZES with the corpus (k = max(16, ⌈N/125⌉), the
    * SemDeDup contract of constant expected cluster size — the
    * `dedup_containment` auto-band precedent: both engines derive k from
    * the same count, Spark via one count job, the oracle via a scalar CTE),
    * so the within-cluster quadratic term is bounded at every scale; no
    * all-pairs join exists. Centroids broadcast (k·dim doubles). The
    * assignment argmax is a partial-aggregable `max(struct(sbp, -cid))`,
    * NOT a window rank: the N·k candidate rows collapse map-side to N rows
    * before any shuffle (a window would sort-shuffle all N·k). At real
    * scale the remaining cost is the N·k assignment scan itself — the known
    * SemDeDup bottleneck, attacked with IVF/hierarchical assignment, which
    * `ann_ivf` demonstrates on this same corpus.
    */
  val dedupSemantic = QueryDef(
    "dedup_semantic",
    (spark, dir) => {
      val raw = vecs(spark, dir)
      // Driver-side count is deliberate here (contrast dedup_eval's relational
      // modulus fix): k must be a LITERAL so the `vec_id < k` centroid filter
      // pushes into the parquet scan — a broadcast-scalar k would force a full
      // centroid-branch scan at 100 TB to save one cheap count job.
      val k = math.max(16L, (raw.count() + 124) / 125)
      val e = Tables.spreadIfNarrow(raw)
      val cent = e.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assign = e.join(broadcast(cent), lit(true))
        .select(col("vec_id"), col("v"), col("cid"),
          basisPoints(cosine(col("v"), col("cv"))).as("sbp"))
        .groupBy(col("vec_id"))
        // lexicographic struct max = highest sbp, tie → smallest cid (the
        // same order the oracle's ROW_NUMBER ... ORDER BY sbp DESC, cid uses)
        .agg(max(struct(col("sbp"), (-col("cid")).as("ncid"))).as("best"),
          first(col("v")).as("v")) // v is functionally determined by vec_id
        .select(col("vec_id"), col("v"), (-col("best.ncid")).as("cid"))
      val dups = assign.as("a").join(assign.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("a_id"),
          basisPoints(cosine(col("a.v"), col("b.v"))).as("sim_bp"))
        .filter(col("sim_bp") >= 3000)
        .groupBy(col("vec_id"))
        .agg(min(col("a_id")).as("dup_of"), max(col("sim_bp")).as("best_sim_bp"))
      assign.select(col("vec_id"), col("cid"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          col("dup_of").isNull.as("kept"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          coalesce(col("best_sim_bp"), lit(0L)).as("best_sim_bp"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH e AS ($DuckVecs),
           w AS (SELECT GREATEST(16, CAST(ceil(COUNT(*) / 125.0) AS BIGINT)) AS k
                 FROM e),
           cent AS (SELECT vec_id AS cid, v AS cv FROM e, w WHERE vec_id < k),
           ascore AS (SELECT e.vec_id, e.v, cid, ${duckSim("e.v", "cv")} AS sbp
                      FROM e CROSS JOIN cent),
           assign AS (SELECT vec_id, v, cid FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY sbp DESC, cid) AS arn FROM ascore)
                      WHERE arn = 1),
           dups AS (SELECT vec_id, MIN(a_id) AS dup_of,
                           MAX(sim_bp) AS best_sim_bp
                    FROM (SELECT b.vec_id, a.vec_id AS a_id,
                                 ${duckSim("a.v", "b.v")} AS sim_bp
                          FROM assign a JOIN assign b
                            ON a.cid = b.cid AND a.vec_id < b.vec_id)
                    WHERE sim_bp >= 3000
                    GROUP BY vec_id)
      SELECT a.vec_id, a.cid,
             dup_of IS NULL AS kept,
             COALESCE(dup_of, -1) AS dup_of,
             COALESCE(best_sim_bp, 0) AS best_sim_bp
      FROM assign a LEFT JOIN dups USING (vec_id)
      ORDER BY a.vec_id"""),
    notes = "SemDeDup: cluster-blocked semantic near-dup pruning; auto-sized k, broadcast centroids, agg-argmax assignment")

  /** One Lloyd iteration of k-means (k=8, first 8 vectors as the
    * deterministic seed): assign every vector to its nearest centroid by
    * squared L2 (floor-scaled to basis points BEFORE the argmin so ties
    * break identically in any engine), then summarize each cluster —
    * member count, total distance, and an exact integer checksum of the
    * member vectors (the sufficient statistic a full k-means would reduce).
    *
    * Scale shape: centroids broadcast; assignment is a map-side scan + one
    * rank-per-vector window; the cluster reduce is one partial+final agg.
    * A full k-means is this step iterated with the new centroids fed back —
    * each iteration stays one broadcast-scan-reduce, no driver loops over
    * data (only over k·dim centroid summaries).
    */
  val kmeansStep = QueryDef(
    "kmeans_step",
    (spark, dir) => {
      val e = vecs(spark, dir)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val distBp = basisPoints(aggregate(
        zip_with(col("v"), col("cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, z) => acc + z))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d_bp"), col("cid"))
      val assign = e.join(broadcast(cent), lit(true))
        .select(col("vec_id"), col("v"), col("cid"), distBp.as("d_bp"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val memberChecksum = aggregate(col("v"), lit(0L),
        (acc, x) => acc + floor(x * 10000 + lit(0.5)).cast("long"))
      assign.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("d_bp")).as("sum_dist_bp"),
          sum(memberChecksum).as("checksum_bp"))
        .orderBy(col("cid"))
    },
    Some(s"""
      WITH e AS ($DuckVecs),
           cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
           d AS (SELECT e.vec_id, e.v, cid,
                   CAST(floor(list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(range(1, 65),
                         i -> (e.v[i] - cv[i]) * (e.v[i] - cv[i]))),
                       (a, x) -> a + x) * 10000 + 0.5) AS BIGINT) AS d_bp
                 FROM e CROSS JOIN cent),
           assign AS (SELECT vec_id, v, cid, d_bp FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY d_bp, cid) AS rn FROM d)
                      WHERE rn = 1)
      SELECT cid, COUNT(*) AS n_members,
             CAST(SUM(d_bp) AS BIGINT) AS sum_dist_bp,
             CAST(SUM(list_reduce(list_prepend(0::BIGINT,
               list_transform(v, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))),
               (a, x) -> a + x)) AS BIGINT) AS checksum_bp
      FROM assign GROUP BY cid ORDER BY cid"""))

  /** Per-label embedding statistics: L2-norm distribution as exact basis
    * points (norm = one fold + one sqrt, both IEEE-correctly-rounded, so
    * bit-identical across engines). The shape a feature-store health check
    * runs before training: count, min/max/mean norm per class.
    */
  val vectorStats = QueryDef(
    "vector_stats",
    (spark, dir) => {
      val e = load(spark, dir, "embeddings")
        .select(col("label"), toDoubleArray(col("embedding")).as("v"))
      e.select(col("label"), basisPoints(sqrt(normSq(col("v")))).as("norm_bp"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("norm_bp")).as("min_norm_bp"),
          max(col("norm_bp")).as("max_norm_bp"),
          sum(col("norm_bp")).as("sum_norm_bp"))
        .withColumn("avg_norm_bp", Tables.exactDiv(col("sum_norm_bp"), col("n_vecs")))
        .orderBy(col("label"))
    },
    Some("""
      WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
           norms AS (SELECT label,
                       CAST(floor(sqrt(list_dot_product(v, v)) * 10000 + 0.5) AS BIGINT) AS norm_bp
                     FROM e)
      SELECT label, COUNT(*) AS n_vecs,
             MIN(norm_bp) AS min_norm_bp,
             MAX(norm_bp) AS max_norm_bp,
             CAST(SUM(norm_bp) AS BIGINT) AS sum_norm_bp,
             CAST(SUM(norm_bp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_norm_bp
      FROM norms GROUP BY label ORDER BY label"""))

  /** Symmetric int8 quantization per vector (max-abs scaling — the storage
    * format every large ANN index ships): q_i = floor(x_i/maxabs·127 + 0.5),
    * plus the absolute reconstruction error the quantizer introduces. Every
    * step is a fixed-order IEEE sequence (one division, one multiply, one
    * floor per element; error accumulated by an ordered fold), so the whole
    * quantize→dequantize→error pipeline hash-matches across engines. Narrow
    * map at any scale — no shuffle.
    */
  val vectorQuantize = QueryDef(
    "vector_quantize",
    (spark, dir) => {
      val e = load(spark, dir, "embeddings")
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
        .withColumn("maxabs",
          array_max(transform(col("v"), x => abs(x))))
        // all-zero vector → 0.0/0.0 = NaN → ANSI cast-to-long throws
        // (while the oracle would NULL) — same degenerate-vector guard as
        // gramUpper / pca_project
        .filter(col("maxabs") > 0)
      val quant = transform(col("v"),
        x => floor(x / col("maxabs") * 127 + lit(0.5)).cast("long"))
      e.withColumn("q", quant)
        .select(col("vec_id"),
          Tables.basisPoints(col("maxabs")).as("maxabs_bp"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("q_energy"),
          Tables.basisPoints(aggregate(
            zip_with(col("v"), col("q"),
              (x, q) => abs(x - q * col("maxabs") / 127)),
            lit(0.0), (acc, z) => acc + z)).as("recon_err_bp"))
        .orderBy(col("vec_id"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS maxabs
        FROM embeddings WHERE vec_id % 10 = 0),
      q AS (
        SELECT vec_id, v, maxabs,
               list_transform(v, x -> CAST(floor(x / maxabs * 127 + 0.5) AS BIGINT)) AS qv
        FROM e WHERE maxabs > 0)
      SELECT vec_id,
             CAST(floor(maxabs * 10000 + 0.5) AS BIGINT) AS maxabs_bp,
             CAST(list_reduce(list_prepend(0::BIGINT, qv), (a, x) -> a + x) AS BIGINT) AS q_sum,
             CAST(list_reduce(list_prepend(0::BIGINT,
               list_transform(qv, x -> x * x)), (a, x) -> a + x) AS BIGINT) AS q_energy,
             CAST(floor(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, 65),
                 i -> abs(v[i] - qv[i] * maxabs / 127))),
               (a, x) -> a + x) * 10000 + 0.5) AS BIGINT) AS recon_err_bp
      FROM q
      ORDER BY vec_id"""))

  /** ANN quality evaluation: recall@10 of the IVF index against the
    * brute-force ground truth, per query vector — the acceptance metric any
    * approximate index ships with. Composes the two existing pipelines and
    * reduces to one small join; the oracle restates both pipelines as CTEs
    * and must land on identical recalls.
    */
  val annRecall = QueryDef(
    "ann_recall",
    (spark, dir) => {
      val truth = annBruteforce.fn(spark, dir).select(col("qid"), col("vec_id"))
      val approx = annIvf.fn(spark, dir)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1))
      truth.join(approx, Seq("qid", "vec_id"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"), count(col("hit")).as("n_hits"))
        .withColumn("recall_bp", expr("(n_hits * 10000) DIV k"))
        .orderBy(col("qid"))
    },
    Some(s"""
      WITH e AS ($DuckVecs),
           q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
           bf_s AS (SELECT qid, vec_id, ${duckSim("qv", "v")} AS sim_bp
                    FROM q JOIN e ON vec_id <> qid),
           bf AS (SELECT qid, vec_id FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                      ORDER BY sim_bp DESC, vec_id) AS rn FROM bf_s)
                  WHERE rn <= 10),
           cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
           ascore AS (SELECT e.vec_id, e.v, cid, ${duckSim("e.v", "cv")} AS sbp
                      FROM e CROSS JOIN cent),
           assign AS (SELECT vec_id, v, cid FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY sbp DESC, cid) AS arn FROM ascore)
                      WHERE arn = 1),
           pscore AS (SELECT qid, qv, cid, ${duckSim("qv", "cv")} AS sbp
                      FROM q CROSS JOIN cent),
           probes AS (SELECT qid, qv, cid FROM (
                        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                          ORDER BY sbp DESC, cid) AS prn FROM pscore)
                      WHERE prn <= 4),
           ivf_s AS (SELECT qid, vec_id, ${duckSim("qv", "v")} AS sim_bp
                     FROM probes JOIN assign USING (cid)
                     WHERE vec_id <> qid),
           ivf AS (SELECT qid, vec_id, 1 AS hit FROM (
                     SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY sim_bp DESC, vec_id) AS rn FROM ivf_s)
                   WHERE rn <= 10)
      SELECT qid, COUNT(*) AS k, COUNT(hit) AS n_hits,
             (COUNT(hit) * 10000) // COUNT(*) AS recall_bp
      FROM bf LEFT JOIN ivf USING (qid, vec_id)
      GROUP BY qid
      ORDER BY qid"""))

  /** Product quantization (PQ) — the codebook compression behind
    * billion-vector ANN indexes: split each 64-d vector into 4 subspaces of
    * 16, quantize each subvector to its nearest of 4 per-subspace centroids
    * (deterministic codebook: the subvectors of vec_id < 4, the same
    * oracle-replayable stand-in as `ann_ivf`'s coarse quantizer), and pack
    * the 4 two-bit codes into one byte — 64 doubles become 1 byte, 512× —
    * plus the quantization-error audit. Distances go through the
    * ‖a‖²−2a·c+‖c‖² expansion in one pinned IEEE op order, floor-scaled to
    * bp BEFORE the argmin so rank can't depend on sub-bp noise. Scale
    * shape: codebook is broadcast (16 rows), assignment is a map-side
    * explode + equi join on the subspace id, output is the code histogram.
    */
  val annPq = QueryDef(
    "ann_pq",
    (spark, dir) => {
      val M = 4; val SUB = 16
      val e = vecs(spark, dir)
      val sub = e.select(col("vec_id"), explode(array((0 until M).map(j =>
          struct(lit(j).as("j"), slice(col("v"), j * SUB + 1, SUB).as("s"))): _*)).as("p"))
        .select(col("vec_id"), col("p.j").as("j"), col("p.s").as("s"))
      val cent = sub.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cs"), col("j"), col("s").as("cv"))
      val w = Window.partitionBy(col("vec_id"), col("j"))
        .orderBy(col("dist_bp"), col("cs"))
      val best = sub.join(broadcast(cent), "j")
        .select(col("vec_id"), col("j"), col("cs"),
          floor(((dot(col("s"), col("s")) - lit(2.0) * dot(col("s"), col("cv")))
            + dot(col("cv"), col("cv"))) * 10000 + lit(0.5)).cast("long")
            .as("dist_bp"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val codes = best.groupBy(col("vec_id"))
        .agg(sum(col("cs") * when(col("j") === 0, 1L).when(col("j") === 1, 4L)
            .when(col("j") === 2, 16L).otherwise(64L)).as("code"),
          sum(col("dist_bp")).as("err_bp"))
      codes.groupBy(col("code"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("err_bp")).as("sum_err_bp"))
        .orderBy(col("code"))
    },
    Some(s"""
      WITH e AS ($DuckVecs),
      js AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(j)),
      sub AS (
        SELECT vec_id, j, list_slice(v, j * 16 + 1, j * 16 + 16) AS s
        FROM e CROSS JOIN js),
      cent AS (SELECT vec_id AS cs, j, s AS cv FROM sub WHERE vec_id < 4),
      scored AS (
        SELECT sub.vec_id, sub.j, cs,
               CAST(floor(((list_dot_product(s, s) - 2 * list_dot_product(s, cv))
                 + list_dot_product(cv, cv)) * 10000 + 0.5) AS BIGINT) AS dist_bp
        FROM sub JOIN cent ON sub.j = cent.j),
      best AS (
        SELECT vec_id, j, cs, dist_bp FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
            ORDER BY dist_bp, cs) AS rn FROM scored)
        WHERE rn = 1),
      codes AS (
        SELECT vec_id,
               CAST(SUM(cs * CASE j WHEN 0 THEN 1 WHEN 1 THEN 4
                                    WHEN 2 THEN 16 ELSE 64 END) AS BIGINT) AS code,
               CAST(SUM(dist_bp) AS BIGINT) AS err_bp
        FROM best GROUP BY vec_id)
      SELECT code, COUNT(*) AS n_vecs, CAST(SUM(err_bp) AS BIGINT) AS sum_err_bp
      FROM codes GROUP BY code
      ORDER BY code"""))

  /** IVF+PQ — the production ANN composite (what FAISS's IndexIVFPQ runs):
    * coarse quantizer prunes the corpus to 4 of 16 probed cells, PQ codes
    * (4 subspaces × 4 centroids, from [[annPq]]'s codebook construction)
    * give an ASYMMETRIC-distance approximation via a per-query lookup table
    * (8 queries × 4 subspaces × 4 centroids = 128 broadcast rows — the ADC
    * table), the top-20 approximate candidates per query are re-ranked with
    * exact cosine, top-10 kept. The full-precision corpus is touched only
    * for probed-cell residents; at real scale codes live in memory and the
    * exact re-rank is the only full-vector I/O.
    *
    * Every ranking key is integer (floor-bp distances, vec_id tiebreaks),
    * so both engines agree exactly at each of the three pruning stages.
    */
  val annIvfPq = QueryDef(
    "ann_ivf_pq",
    (spark, dir) => {
      val M = 4; val SUB = 16
      val e = vecs(spark, dir)
      // coarse quantizer + cell assignment (ann_ivf shape)
      val coarse = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assignW = Window.partitionBy(col("vec_id")).orderBy(col("sbp").desc, col("cid"))
      val assign = e.join(broadcast(coarse), lit(true))
        .select(col("vec_id"), col("cid"),
          basisPoints(cosine(col("v"), col("cv"))).as("sbp"))
        .withColumn("arn", row_number().over(assignW))
        .filter(col("arn") === 1)
        .select(col("vec_id"), col("cid"))
      // PQ codebook + per-vector codes (ann_pq shape), kept per subspace
      val sub = e.select(col("vec_id"), explode(array((0 until M).map(j =>
          struct(lit(j).as("j"), slice(col("v"), j * SUB + 1, SUB).as("s"))): _*)).as("p"))
        .select(col("vec_id"), col("p.j").as("j"), col("p.s").as("s"))
      val cb = sub.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cs"), col("j"), col("s").as("cv"))
      val codeW = Window.partitionBy(col("vec_id"), col("j"))
        .orderBy(col("dist_bp"), col("cs"))
      val codes = sub.join(broadcast(cb), "j")
        .select(col("vec_id"), col("j"), col("cs"),
          floor(((dot(col("s"), col("s")) - lit(2.0) * dot(col("s"), col("cv")))
            + dot(col("cv"), col("cv"))) * 10000 + lit(0.5)).cast("long")
            .as("dist_bp"))
        .withColumn("rn", row_number().over(codeW)).filter(col("rn") === 1)
        .select(col("vec_id"), col("j"), col("cs"))
      // queries: probed cells + ADC lookup table
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val probeW = Window.partitionBy(col("qid")).orderBy(col("sbp").desc, col("cid"))
      val probes = q.join(broadcast(coarse), lit(true))
        .select(col("qid"), col("cid"),
          basisPoints(cosine(col("qv"), col("cv"))).as("sbp"))
        .withColumn("prn", row_number().over(probeW))
        .filter(col("prn") <= 4)
        .select(col("qid"), col("cid"))
      val qsub = q.select(col("qid"), explode(array((0 until M).map(j =>
          struct(lit(j).as("j"), slice(col("qv"), j * SUB + 1, SUB).as("qs"))): _*)).as("p"))
        .select(col("qid"), col("p.j").as("j"), col("p.qs").as("qs"))
      val adc = qsub.join(broadcast(cb), "j")
        .select(col("qid"), col("j"), col("cs"),
          floor(((dot(col("qs"), col("qs")) - lit(2.0) * dot(col("qs"), col("cv")))
            + dot(col("cv"), col("cv"))) * 10000 + lit(0.5)).cast("long")
            .as("adist_bp"))
      // probed candidates → approx distance via ADC → top-20 → exact re-rank
      val cand = probes.join(assign, "cid")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"))
      val approxW = Window.partitionBy(col("qid")).orderBy(col("approx_bp"), col("vec_id"))
      val shortlist = cand.join(codes, "vec_id")
        .join(broadcast(adc), Seq("qid", "j", "cs"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("adist_bp")).as("approx_bp"))
        .withColumn("arn", row_number().over(approxW))
        .filter(col("arn") <= 20)
        .select(col("qid"), col("vec_id"), col("approx_bp"))
      val rankW = Window.partitionBy(col("qid")).orderBy(col("sim_bp").desc, col("vec_id"))
      shortlist
        .join(q, "qid")
        .join(e, "vec_id")
        .select(col("qid"), col("vec_id"), col("approx_bp"),
          basisPoints(cosine(col("qv"), col("v"))).as("sim_bp"))
        .withColumn("rn", row_number().over(rankW))
        .filter(col("rn") <= 10)
        .select(col("qid"), col("rn"), col("vec_id"), col("sim_bp"), col("approx_bp"))
        .orderBy(col("qid"), col("rn"))
    },
    Some(s"""
      WITH e AS ($DuckVecs),
      coarse AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      ascore AS (SELECT e.vec_id, cid, ${duckSim("e.v", "cv")} AS sbp
                 FROM e CROSS JOIN coarse),
      assign AS (SELECT vec_id, cid FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY sbp DESC, cid) AS arn FROM ascore)
                 WHERE arn = 1),
      js AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(j)),
      sub AS (
        SELECT vec_id, j, list_slice(v, j * 16 + 1, j * 16 + 16) AS s
        FROM e CROSS JOIN js),
      cb AS (SELECT vec_id AS cs, j, s AS cv FROM sub WHERE vec_id < 4),
      cscore AS (
        SELECT sub.vec_id, sub.j, cs,
               CAST(floor(((list_dot_product(s, s) - 2 * list_dot_product(s, cv))
                 + list_dot_product(cv, cv)) * 10000 + 0.5) AS BIGINT) AS dist_bp
        FROM sub JOIN cb ON sub.j = cb.j),
      codes AS (
        SELECT vec_id, j, cs FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
            ORDER BY dist_bp, cs) AS rn FROM cscore)
        WHERE rn = 1),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
      pscore AS (SELECT qid, cid, ${duckSim("qv", "cv")} AS sbp
                 FROM q CROSS JOIN coarse),
      probes AS (SELECT qid, cid FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY sbp DESC, cid) AS prn FROM pscore)
                 WHERE prn <= 4),
      qsub AS (
        SELECT qid, j, list_slice(qv, j * 16 + 1, j * 16 + 16) AS qs
        FROM q CROSS JOIN js),
      adc AS (
        SELECT qid, qsub.j, cs,
               CAST(floor(((list_dot_product(qs, qs) - 2 * list_dot_product(qs, cv))
                 + list_dot_product(cv, cv)) * 10000 + 0.5) AS BIGINT) AS adist_bp
        FROM qsub JOIN cb ON qsub.j = cb.j),
      cand AS (
        SELECT qid, vec_id FROM probes JOIN assign USING (cid)
        WHERE vec_id <> qid),
      shortlist AS (
        SELECT qid, vec_id, approx_bp FROM (
          SELECT c.qid, c.vec_id,
                 CAST(SUM(adist_bp) AS BIGINT) AS approx_bp,
                 ROW_NUMBER() OVER (PARTITION BY c.qid
                   ORDER BY CAST(SUM(adist_bp) AS BIGINT), c.vec_id) AS arn
          FROM cand c
          JOIN codes ON codes.vec_id = c.vec_id
          JOIN adc ON adc.qid = c.qid AND adc.j = codes.j AND adc.cs = codes.cs
          GROUP BY c.qid, c.vec_id)
        WHERE arn <= 20),
      reranked AS (
        SELECT s.qid, s.vec_id, s.approx_bp, ${duckSim("qv", "v")} AS sim_bp
        FROM shortlist s JOIN q ON q.qid = s.qid JOIN e ON e.vec_id = s.vec_id)
      SELECT qid, rn, vec_id, sim_bp, approx_bp FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim_bp DESC, vec_id) AS rn FROM reranked)
      WHERE rn <= 10
      ORDER BY qid, rn"""),
    notes = "FAISS IndexIVFPQ shape: coarse probe -> ADC approx rank -> exact re-rank")

  /** THREE full Lloyd iterations of k-means — the iterate-to-convergence
    * shape [[kmeansStep]]'s Scaladoc promises, pinned end to end. The trick
    * that makes multi-step k-means oracle-exact: vectors are quantized ONCE
    * to integer basis points (floor(x·10⁴+½), exact), and every subsequent
    * operation — squared-L2 distances, argmin assignment, centroid update —
    * stays in integer arithmetic, so three chained iterations are
    * bit-identical cross-engine where float centroids would diverge by
    * summation order at iteration 1. Centroid update is truncating integer
    * division (Spark `div`; components can be NEGATIVE, so the oracle uses
    * the sign-safe (s − s%n) // n form — measured, DuckDB `//` also
    * truncates, and this form is exact under either floor or trunc
    * semantics, see events_interpolate). Empty clusters carry their previous
    * centroid (left join + coalesce, both engines).
    *
    * Scale shape per iteration: centroids broadcast (k·dim rows), the
    * assignment is a map-side scan + one per-vector rank window, the update
    * is posexplode → (cid, dim) partial agg (k·dim output rows) — no
    * driver loop ever touches data rows, and per-iteration localCheckpoint
    * keeps the plan O(1) deep (same economics as `graph_pagerank_iter` /
    * `dedup_components`). The quantized corpus is cached once and reused
    * by all three iterations.
    */
  val kmeansIter = QueryDef(
    "kmeans_iter",
    (spark, dir) => {
      val iters = 3
      val e = vecs(spark, dir)
        .select(col("vec_id"),
          transform(col("v"), x => floor(x * 10000 + lit(0.5)).cast("long")).as("vb"))
        .cache()
      var cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("vb").as("cb"))
      var assigned: org.apache.spark.sql.DataFrame = null
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d"), col("cid"))
      for (_ <- 1 to iters) {
        assigned = e.join(broadcast(cent), lit(true))
          .select(col("vec_id"), col("vb"), col("cid"),
            aggregate(zip_with(col("vb"), col("cb"), (x, y) => (x - y) * (x - y)),
              lit(0L), (a, z) => a + z).as("d"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("vb"), col("cid"), col("d"))
          .localCheckpoint()
        val newCent = assigned
          .select(col("cid"), posexplode(col("vb")).as(Seq("dim", "x")))
          .groupBy(col("cid"), col("dim"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .withColumn("c", expr("s div n")) // trunc div; oracle mirrors sign-safe
          .groupBy(col("cid"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
            t => t.getField("c")).as("cb"))
        cent = cent.as("p")
          .join(newCent.as("nc"), col("p.cid") === col("nc.cid"), "left")
          .select(col("p.cid").as("cid"),
            coalesce(col("nc.cb"), col("p.cb")).as("cb"))
          .localCheckpoint()
      }
      val stats = assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("d")).as("sum_dist"))
      cent.join(stats, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("n_members"), lit(0L)).as("n_members"),
          coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
          aggregate(col("cb"), lit(0L), (a, x) => a + x).as("cent_sum_bp"))
        .orderBy(col("cid"))
    },
    Some {
      def step(k: Int): String = {
        val prev = s"c${k - 1}"
        s"""a$k AS (
           |  SELECT vec_id, vb, cid, d FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
           |      ORDER BY d, cid) AS rn FROM (
           |      SELECT e.vec_id, e.vb, c.cid,
           |             list_reduce(list_prepend(0::BIGINT,
           |               list_transform(range(1, 65),
           |                 i -> (e.vb[i] - c.cb[i]) * (e.vb[i] - c.cb[i]))),
           |               (a, x) -> a + x) AS d
           |      FROM e CROSS JOIN $prev c))
           |  WHERE rn = 1),
           |m$k AS (
           |  SELECT cid, i, SUM(vb[i]) AS s, COUNT(*) AS n
           |  FROM a$k CROSS JOIN dims GROUP BY cid, i),
           |n$k AS (
           |  SELECT cid, list(CAST((s - s % n) // n AS BIGINT) ORDER BY i) AS cb
           |  FROM m$k GROUP BY cid),
           |c$k AS (
           |  SELECT $prev.cid, COALESCE(n$k.cb, $prev.cb) AS cb
           |  FROM $prev LEFT JOIN n$k USING (cid))""".stripMargin
      }
      s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding::DOUBLE[],
          x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS vb
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, vb AS cb FROM e WHERE vec_id < 8),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      ${(1 to 3).map(step).mkString(",\n")},
      s3 AS (
        SELECT cid, COUNT(*) AS n_members, SUM(d) AS sum_dist
        FROM a3 GROUP BY cid)
      SELECT c3.cid,
             CAST(COALESCE(n_members, 0) AS BIGINT) AS n_members,
             CAST(COALESCE(sum_dist, 0) AS BIGINT) AS sum_dist,
             CAST(list_reduce(list_prepend(0::BIGINT, c3.cb),
               (a, x) -> a + x) AS BIGINT) AS cent_sum_bp
      FROM c3 LEFT JOIN s3 USING (cid)
      ORDER BY cid"""
    },
    notes = "3 exact Lloyd iterations in integer-bp space; centroids broadcast, corpus cached once")

  /** Exact Gram (uncentered covariance) matrix of the int8-quantized corpus
    * — the one-pass reduction PCA / whitening / linear probes start from.
    *
    * Scale design: each vector emits its d(d+1)/2 upper-triangle products
    * tagged (i, j) and ONE hash aggregation sums them — partial (map-side)
    * aggregation collapses every task's output to ≤2080 rows regardless of
    * corpus size, so the shuffle is O(d²·tasks), independent of row count.
    * That is exactly how a 1000-executor job computes XᵀX over 100 TB: no
    * driver collect, no d×d matrix object, just a keyed sum. Pair emission
    * is lazy codegen'd higher-order transform/slice — no UDF, no explode of
    * a self-join.
    *
    * Exactness: products of int8-quantized coordinates (same per-vector
    * maxabs/127 rule as vector_quantize) are exact BIGINTs, so the matrix
    * hash-matches DuckDB bit-for-bit — no float accumulation order issues.
    */
  /** Upper-triangle int8 Gram matrix as (i, j, gram) rows — shared by
    * [[vectorCovariance]] (which pins it against the oracle) and
    * [[vectorPowerIteration]] (which iterates on it).
    *
    * Shape settled BY MEASUREMENT (r8 A/B, cell-exact on both corpora;
    * BASELINE.md "Vector-query optimization"): per-vector product ARRAYS
    * folded by a typed Long-sum Aggregator beat the previous
    * explode+groupBy (2 080 (i,j,p) rows per vector through a hash
    * aggregate) 2.2× — and the input repartition
    * buys another 2.4× because the driver fixture is ONE parquet file, so
    * without it the whole pair-product explode ran in a single task
    * (2.25 s → 0.44 s combined at sf0.1; same win at 10×). The shuffle is
    * `numPartitions × d(d+1)/2` longs regardless of corpus size — on a
    * real cluster the scan arrives pre-split and the repartition of raw
    * (id, 64-float) rows is noise next to the d² fold it parallelizes.
    * Long addition is associative/commutative, so partial/merge order
    * cannot change a cell (the float-exactness rules in `Tables` don't
    * apply — everything here is already exact BIGINT).
    */
  private def gramUpper(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    import graft.functions.ArraySumAggregator
    val q = graft.Tables.spreadIfNarrow(vecs(spark, dir))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .filter(col("maxabs") > 0)
      .withColumn("q", transform(col("v"),
        x => floor(x / col("maxabs") * 127 + lit(0.5)).cast("long")))
    val summed = q.select(expr(
        """flatten(transform(q, (x, i) ->
             transform(slice(q, i + 1, 64 - i), y -> x * y)))""").as("f"))
      .agg(udaf(ArraySumAggregator).apply(col("f")).as("s"))
    // flat upper-triangle position -> (i, j), same (i asc, j asc) order the
    // lazy pair emission produces; closed-form pos (rows before i sum to
    // 65(i-1) - i(i-1)/2), 2 080 rows, broadcast back onto the sums
    val mapping = spark.range(1, 65).select(col("id").as("i"))
      .select(col("i"), explode(expr("sequence(i, 64)")).as("j"))
      .withColumn("pos",
        expr("65 * (i - 1) - i * (i - 1) div 2 + (j - i)").cast("int"))
    summed.select(posexplode(col("s")).as(Seq("pos", "gram")))
      .join(broadcast(mapping), Seq("pos"))
      .select(col("i"), col("j"), col("gram"))
  }

  /** The upper-triangle Gram CTE as DuckDB SQL, shared by both oracles. */
  private val DuckGramUpper = """
      e AS (
        SELECT embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                 AS maxabs
        FROM embeddings),
      q AS (
        SELECT list_transform(v,
                 x -> CAST(floor(x / maxabs * 127 + 0.5) AS BIGINT)) AS qv
        FROM e WHERE maxabs > 0),
      p AS (
        SELECT CAST(ii.i AS BIGINT) AS i, CAST(jj.j AS BIGINT) AS j,
               qv[CAST(ii.i AS INT)] * qv[CAST(jj.j AS INT)] AS p
        FROM q, UNNEST(range(1, 65)) AS ii(i), UNNEST(range(1, 65)) AS jj(j)
        WHERE jj.j >= ii.i),
      g0 AS (
        SELECT i, j, CAST(SUM(p) AS BIGINT) AS gram
        FROM p GROUP BY i, j)"""

  val vectorCovariance = QueryDef(
    "vector_covariance",
    (spark, dir) => gramUpper(spark, dir).orderBy(col("i"), col("j")),
    Some(s"""
      WITH $DuckGramUpper
      SELECT i, j, gram FROM g0 ORDER BY i, j"""),
    notes = "exact int8 X^T X: lazy upper-triangle pair emission + one keyed sum, shuffle O(d^2) per task")

  /** Top-eigenvector PCA step: 3 power iterations v ← (G·v)·10⁴ ÷ max|G·v|
    * over the int8 Gram matrix — iterative distributed linear algebra kept
    * ENTIRELY on the aggregate path (matrix-vector product = one keyed join
    * + sum over the 4096-row symmetric Gram; rescale = a broadcast 1-row
    * max — no driver collect, no dense matrix object). The max-abs rescale
    * replaces the usual L2 normalization so every intermediate stays an
    * exact BIGINT (both engines truncate `div` toward zero identically,
    * including on the negative components this vector has).
    *
    * Scale posture: the expensive part is building G once — measured flat
    * at 10× (BASELINE.md); the iterations touch only d² rows regardless of
    * corpus size, so adding iterations costs O(d²) each. The Gram build is
    * localCheckpointed so the 3 rounds don't recompute it.
    */
  /** The 3-round integer power iteration from [[vectorPowerIteration]] as a
    * reusable (j, vval) fit artifact — shared with [[vectorPcaProject]],
    * which applies it corpus-wide.
    */
  private def eigenVec(spark: org.apache.spark.sql.SparkSession,
      dir: String) = {
    val g0 = gramUpper(spark, dir).localCheckpoint()
    val g = g0.unionAll(g0.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("gram")))
    var v = spark.range(1, 65)
      .select(col("id").as("j"), lit(10000L).as("vval"))
    for (_ <- 1 to 3) {
      // v is d rows — broadcast it so each matvec round is a map-side hash
      // join + one keyed sum instead of shuffling the d²-row Gram per round
      val w = g.join(broadcast(v), Seq("j"))
        .groupBy(col("i")).agg(sum(col("gram") * col("vval")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
      v = w.crossJoin(broadcast(m))
        .select(col("i").as("j"), expr("(w * 10000L) div m").as("vval"))
    }
    v
  }

  /** The same 3-round iteration as DuckDB CTE text (expects $DuckGramUpper
    * in scope; leaves `v3` as the final (j, vval) vector).
    */
  private val DuckEigen = """
      g AS (SELECT i, j, gram FROM g0
            UNION ALL
            SELECT j AS i, i AS j, gram FROM g0 WHERE i <> j),
      v0 AS (SELECT CAST(ii.i AS BIGINT) AS j, CAST(10000 AS BIGINT) AS vval
             FROM UNNEST(range(1, 65)) AS ii(i)),
      w1 AS (SELECT g.i, SUM(g.gram * v0.vval) AS w
             FROM g JOIN v0 ON v0.j = g.j GROUP BY g.i),
      m1 AS (SELECT MAX(ABS(w)) AS m FROM w1),
      v1 AS (SELECT i AS j, (w * 10000) // m AS vval FROM w1, m1),
      w2 AS (SELECT g.i, SUM(g.gram * v1.vval) AS w
             FROM g JOIN v1 ON v1.j = g.j GROUP BY g.i),
      m2 AS (SELECT MAX(ABS(w)) AS m FROM w2),
      v2 AS (SELECT i AS j, (w * 10000) // m AS vval FROM w2, m2),
      w3 AS (SELECT g.i, SUM(g.gram * v2.vval) AS w
             FROM g JOIN v2 ON v2.j = g.j GROUP BY g.i),
      m3 AS (SELECT MAX(ABS(w)) AS m FROM w3),
      v3 AS (SELECT i AS j, (w * 10000) // m AS vval FROM w3, m3)"""

  val vectorPowerIteration = QueryDef(
    "vector_power_iteration",
    (spark, dir) => eigenVec(spark, dir)
      .select(col("j").as("dim"), col("vval").as("val")).orderBy(col("dim")),
    Some(s"""
      WITH $DuckGramUpper,
      $DuckEigen
      SELECT j AS dim, CAST(vval AS BIGINT) AS val FROM v3 ORDER BY dim"""),
    notes = "3 integer power iterations on the d^2 Gram rows; matvec = keyed join+sum, rescale = 1-row broadcast")

  /** PCA APPLY step: project the whole corpus onto the fitted top
    * eigenvector — the fit/transform split every feature pipeline has. The
    * 64-row eigenvector from [[eigenVec]] is folded into ONE array row
    * (ordered struct sort, no driver collect) and broadcast; each vector's
    * projection is then a row-local `zip_with` dot product over its int8
    * quantization — no per-dimension explode, no d× row blow-up, so the
    * apply pass streams the corpus once with a constant-size build side
    * (the same shape as scoring 100 TB of embeddings against a fixed
    * linear probe). Everything stays exact BIGINT; output is the global
    * top-20 most-aligned vectors (TakeOrdered, proj DESC / vec_id ASC).
    */
  val vectorPcaProject = QueryDef(
    "vector_pca_project",
    (spark, dir) => {
      val vArr = eigenVec(spark, dir)
        .agg(sort_array(collect_list(struct(col("j"), col("vval"))))
          .as("vs"))
        .select(transform(col("vs"), s => s.getField("vval")).as("varr"))
      // spread the apply pass: quantize + zip_with dot otherwise run
      // inside the one-task single-file scan (r9 single-task audit: 0.40 s;
      // A/B 1.61 -> 1.52 s). No-op on a pre-split cluster scan.
      val q = graft.Tables.spreadIfNarrow(vecs(spark, dir))
        .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
        .filter(col("maxabs") > 0)
        .withColumn("q", transform(col("v"),
          x => floor(x / col("maxabs") * 127 + lit(0.5)).cast("long")))
      q.crossJoin(broadcast(vArr))
        .select(col("vec_id"),
          expr("aggregate(zip_with(q, varr, (x, y) -> x * y), " +
            "CAST(0 AS BIGINT), (a, p) -> a + p)").as("proj"))
        .orderBy(col("proj").desc, col("vec_id"))
        .limit(20)
    },
    Some(s"""
      WITH $DuckGramUpper,
      $DuckEigen,
      qd AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x / list_max(list_transform(
                        embedding::DOUBLE[], y -> abs(y))) * 127 + 0.5)
                      AS BIGINT)) AS qv
        FROM embeddings
        WHERE list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) > 0),
      proj AS (
        SELECT qd.vec_id,
               CAST(SUM(qd.qv[CAST(v3.j AS INT)] * v3.vval) AS BIGINT)
                 AS proj
        FROM qd, v3 GROUP BY qd.vec_id)
      SELECT vec_id, proj FROM proj
      ORDER BY proj DESC, vec_id LIMIT 20"""),
    notes = "fit/apply split: eigenvector folded to one broadcast array row, row-local zip_with dot product, global top-20")

  /** Embedding-space OUTLIER detection — the filtering step a DataComp-style
    * curation pipeline runs between per-class health stats ([[vectorStats]])
    * and semantic dedup ([[dedupSemantic]]): drop vectors far from the
    * corpus distribution before they poison clustering or training. The
    * distance is diagonal Mahalanobis — per-dimension standardized squared
    * deviation, summed — which catches both "far along one broken axis"
    * (a bad encoder batch) and "mildly off everywhere" (out-of-domain),
    * unlike a plain L2-to-centroid which conflates scale across dims.
    *
    * Exact-integer design: vectors quantize to bp and SHIFT by +10⁴ so every
    * per-dim sum is non-negative (embeddings straddle 0; measured, both
    * engines' integer division truncates, but non-negative operands make
    * the query correct under either floor or trunc semantics — deviations
    * may go negative but are squared before any division). Per-dim variance in bp² uses the floored-moment form
    * `max(0, ss div n − (s div n)²)` (the floor can undershoot a zero
    * variance by 1, never more); z²_d = `(10⁴·dev²) div max(1, var)` — so a
    * dev at exactly 1σ contributes ~10⁴ and the 64-dim sum of a typical
    * vector sits near 64·10⁴. `n_dims_over` counts |z|>3 dims (z² > 9·10⁴)
    * for interpretability: axis failure vs diffuse drift.
    *
    * Scale: pass 1 collapses the corpus to d=64 stat rows (posexplode →
    * 64-key agg with map-side combine; per-dim Σq² caps BIGINT at ~2·10¹⁰
    * vectors — past that, widen to DECIMAL); stats broadcast back over
    * pass 2, whose top-15 is TakeOrderedAndProject — never a global sort.
    */
  val vectorOutliers = QueryDef(
    "vector_outliers",
    (spark, dir) => {
      val e = load(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(toDoubleArray(col("embedding")),
            x => (floor(x * 10000 + lit(0.5)) + lit(10000)).cast("long")).as("q"))
      val dims = e.select(posexplode(col("q")).as(Seq("pos", "qd")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("qd")).as("s"),
          sum(expr("qd * qd")).as("ss"))
        .select(col("pos"), expr("s div n").as("mean_bp"),
          greatest(lit(0L),
            expr("(ss div n) - (s div n) * (s div n)")).as("var_bp2"))
      e.select(col("vec_id"), col("label"), posexplode(col("q")).as(Seq("pos", "qd")))
        .join(broadcast(dims), "pos")
        .withColumn("z2",
          expr("(10000L * (qd - mean_bp) * (qd - mean_bp)) div greatest(1L, var_bp2)"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("z2")).as("z2_sum"),
          sum(when(col("z2") > 90000L, 1L).otherwise(0L)).as("n_dims_over"))
        .orderBy(col("z2_sum").desc, col("vec_id"))
        .limit(15)
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x * 10000 + 0.5) AS BIGINT) + 10000) AS q
        FROM embeddings),
      px AS (
        SELECT vec_id, label, CAST(t.pos AS INTEGER) AS pos, q[t.pos + 1] AS qd
        -- len(q), not a hardcoded 64: both engines derive dimensionality
        -- from the data (same hazard class as the signLsh null-padding fix)
        FROM e CROSS JOIN UNNEST(range(0, len(q))) AS t(pos)),
      dims AS (
        SELECT pos, COUNT(*) AS n,
               CAST(SUM(qd) AS BIGINT) AS s,
               CAST(SUM(qd * qd) AS BIGINT) AS ss
        FROM px GROUP BY pos),
      stats AS (
        SELECT pos, s // n AS mean_bp,
               GREATEST(0, (ss // n) - (s // n) * (s // n)) AS var_bp2
        FROM dims),
      z AS (
        SELECT vec_id, label,
               (10000 * (qd - mean_bp) * (qd - mean_bp))
                 // GREATEST(1, var_bp2) AS z2
        FROM px JOIN stats USING (pos))
      SELECT vec_id, label,
             CAST(SUM(z2) AS BIGINT) AS z2_sum,
             CAST(SUM(CASE WHEN z2 > 90000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dims_over
      FROM z
      GROUP BY vec_id, label
      ORDER BY z2_sum DESC, vec_id
      LIMIT 15"""),
    notes = "diagonal-Mahalanobis embedding outliers: corpus collapses to d stat rows, broadcast back, top-k via TakeOrderedAndProject")

  val all: Seq[QueryDef] = Seq(annBruteforce, annIvf, dedupEmbeddingLsh,
    dedupSemantic,
    kmeansStep, kmeansIter, vectorStats, vectorQuantize, annRecall, annPq,
    annIvfPq, vectorCovariance, vectorPowerIteration, vectorPcaProject,
    vectorOutliers)
}
