package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.load
import graft.functions.{MinhashSig, RollingHash}

/** Sketch-based near-duplicate detection over `documents` — the full-corpus
  * scale path that [[TextQueries.dedupJaccardTokens]]'s exact pairwise join
  * cannot be (posting-list joins go quadratic in token frequency; LSH bounds
  * candidate generation by band-bucket).
  *
  * Hashing is a classic universal family `(a·h + b) mod p` over a polynomial
  * rolling hash of each token ([[graft.functions.RollingHash]], our codegen
  * Catalyst expression). Chosen over xxhash64 deliberately: identical sketch
  * quality for LSH purposes, but every step stays inside checked-overflow
  * BIGINT range, so the ENTIRE pipeline — token hash, permutations, band
  * hashes, candidate join, verification, canonicalization — has an exact
  * DuckDB oracle (round 1 shipped xxhash64 sketches that the driver could
  * only rows-check; round 2 trades them for full hash-match verification).
  *
  * Both queries emit a per-document summary (partner count + canonical id),
  * keeping output O(N) even on a homogeneous corpus where most pairs are
  * near-duplicates.
  */
object DedupQueries {

  private[graft] val NumPerms = 64
  private[graft] val MinhashBands = 16 // 16 bands × 4 rows
  private val SimhashBits = 30 // bits 0..29 of a mod-(2^31-1) hash
  private val SimhashBands = 3 // 3 bands × 10 bits
  private val HammingMax = 4

  /** Token-hash space: rolling hash folded into 2^20ish. Small enough that
    * a·h never overflows checked BIGINT, large enough that collisions are
    * negligible against a real vocabulary.
    */
  private[graft] val TokMod = 1048573L
  private[graft] val P = 2147483647L // 2^31 - 1, prime
  private[ops] val BandMod = 1099511627776L // 2^40: acc·8191 + m stays < 2^53

  /** Deterministic permutation constants, shared verbatim by the Spark plan
    * and the generated oracle SQL (computed once here — they cannot drift).
    */
  private[graft] def permA(s: Int): Long = (s.toLong * 2654435761L) % (P - 1) + 1
  private[graft] def permB(s: Int): Long = (s.toLong * 1779033703L + 1013904223L) % P
  private val SimA = permA(101)
  private val SimB = permB(101)

  /** tok column → universal-family hash input h. */
  private[ops] def tokHash(tok: Column): Column = RollingHash(tok) % TokMod

  private[ops] def perm(h: Column, s: Int): Column =
    (lit(permA(s)) * h + lit(permB(s))) % lit(P)

  /** DuckDB SQL fragments shared by every minhash oracle (the 64 signature
    * MIN columns, the band-key selects for any band count, the
    * signature-overlap sum) — built from the same permutation/band
    * constants as the Spark plans, and defined ONCE so the four minhash
    * oracles (`dedup_minhash_lsh`, `dedup_eval`, `dedup_gate_eval`,
    * `stream_neardup_gate`) cannot drift from each other.
    */
  private[ops] def minColsSql: String = (0 until NumPerms)
    .map(s => s"MIN((${permA(s)} * h + ${permB(s)}) % $P) AS m$s")
    .mkString(",\n    ")

  private[ops] def bandSelectsSql(nBands: Int): String = {
    val rows = NumPerms / nBands
    (0 until nBands).map { b =>
      val bh = (0 until rows).foldLeft("0") { (acc, i) =>
        s"(($acc * 8191 + m${b * rows + i}) % $BandMod)"
      }
      s"SELECT doc_id, lang, $b AS band, $bh AS bh FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
  }

  private[ops] def matchTermsSql: String = (0 until NumPerms)
    .map(s => s"(CASE WHEN sa.m$s = sb.m$s THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** DuckDB twin of [[tokHash]] over a token expression. */
  private[ops] def tokHashSql(tok: String): String =
    s"""list_reduce(
       |  list_prepend(0::BIGINT,
       |    list_transform(list_filter(string_split($tok, ''), c -> c <> ''),
       |                   c -> CAST(unicode(c) AS BIGINT))),
       |  (a, c) -> (a * 31 + c) % 100000000000000000) % $TokMod""".stripMargin

  /** doc → 64-component MinHash signature over its distinct n-gram shingle
    * set (n=1 degenerates to the token set). The registry query uses n=1
    * because this corpus is word salad over a ~31-token vocabulary — 3-gram
    * shingles barely overlap (see `dedup_jaccard_shingles`), so token-level
    * is what actually surfaces near-duplicates here; real prose pipelines
    * would pass n=3..5.
    */
  def minhashSignatures(docs: DataFrame, shingleN: Int = 1,
      repartitionFirst: Boolean = true): DataFrame = {
    // repartition first: the 64 permutation mins per exploded token run in
    // the MAP-side partial aggregate, i.e. inside the scan task — and the
    // driver fixtures are single-row-group parquet (one scan task), so
    // without this the whole signature build is single-threaded (r8).
    // Callers that already spread their input pass repartitionFirst=false
    // to avoid a second full shuffle of the corpus.
    val spread =
      if (repartitionFirst) graft.Tables.spreadIfNarrow(docs) else docs
    // project the token array before any lambda references it — expressions
    // embedded in transform() bodies re-evaluate per element
    val tokenized = spread.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("toks"))
    val units =
      if (shingleN <= 1) array_distinct(col("toks"))
      else array_distinct(transform(
        sequence(lit(1), size(col("toks")) - (shingleN - 1)),
        i => concat_ws(" ", (0 until shingleN).map(k => element_at(col("toks"), i + k)): _*)))
    val toks = tokenized.select(col("doc_id"), col("lang"), explode(units).as("tok"))
    minhashSignaturesFromToks(toks)
  }

  /** The aggregate half of [[minhashSignatures]] over an already-exploded
    * (doc_id, lang, tok) frame — for pipelines that tokenize once and
    * share the token frame across stages (pipeline_curate_v2's near-dup
    * stage explodes its shared token arrays into this). Fully codegen'd
    * (hash + 64 min partial-aggs).
    */
  def minhashSignaturesFromToks(toks: DataFrame): DataFrame = {
    val hashed = toks.withColumn("h", tokHash(col("tok")))
    hashed.groupBy(col("doc_id"), col("lang"))
      .agg((0 until NumPerms).map(s => min(perm(col("h"), s)).as(s"m$s")).head,
        (1 until NumPerms).map(s => min(perm(col("h"), s)).as(s"m$s")): _*)
      .select(col("doc_id"), col("lang"),
        array((0 until NumPerms).map(s => col(s"m$s")): _*).as("sig"))
  }

  /** Row-local MinHash LSH band keys: the same 64-perm signature and
    * 16×4 band hashes as [[minhashSignatures]] + the banding in
    * `dedup_minhash_lsh`, but computed entirely WITHIN each row (the
    * [[graft.functions.MinhashSig]] kernel over the token array — no
    * explode + per-doc shuffle aggregate). Value-identical to the batch
    * path by construction: both take min over the same permutations of
    * the same distinct-token hashes. This is the form a STREAMING gate needs — a per-doc shuffle
    * aggregate before a stateful operator is either disallowed or a
    * second stateful op, while a row-local projection composes freely.
    * Row cost is one codegen'd pass over the token array plus NumPerms
    * permutations per distinct token hash, the same arithmetic the batch
    * map-side partial aggregate does per exploded token.
    *
    * `bands` sets the r/b precision knob: a band collides when all
    * NumPerms/bands of its signature rows match, i.e. with probability
    * J^(NumPerms/bands) — 16 narrow bands (the batch LSH default, backed
    * by a verify join) catch J≳0.7; a VERIFY-LESS caller should pass few
    * wide bands (4×16 ⇒ J≳0.85) and let precision come from band width.
    */
  def minhashBandKeys(docs: DataFrame,
      bands: Int = MinhashBands): DataFrame =
    bandsFromSig(rowLocalSignatures(docs), bands)

  /** Row-local 64-component signature as ONE array column (doc_id, lang,
    * sig) — the storable form the incremental verified gate persists per
    * accepted document. Value-identical to [[minhashSignatures]] (same
    * permutations over the same distinct-token hashes); row-local like
    * [[minhashBandKeys]] so it composes with streaming operators.
    */
  def rowLocalSignatures(docs: DataFrame): DataFrame =
    rowLocalSignaturesFromToks(docs.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("t")))

  /** [[rowLocalSignatures]] over an ALREADY-TOKENIZED frame
    * (doc_id, lang, t: array&lt;string&gt;) — for pipelines that tokenize
    * once and share the token frame across stages (pipeline_curate_v2);
    * same permutations, same constants, value-identical by construction.
    */
  def rowLocalSignaturesFromToks(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("lang"), MinhashSig(col("t")).as("sig"))

  /** THE band fold over a `sig` array column — one LSH band hash,
    * (acc·8191 + sig[b·rows+i]) mod [[BandMod]] across the band's rows.
    * Defined ONCE for every Spark-side banding consumer (the SQL twin is
    * [[bandSelectsSql]]); the constants are oracle-alignment-critical, so
    * they must not be re-spelled at call sites.
    */
  private[ops] def bandHash(b: Int, rows: Int): Column =
    (0 until rows).foldLeft(lit(0L): Column) { (acc, i) =>
      (acc * lit(8191L) + element_at(col("sig"), b * rows + i + 1)) %
        lit(BandMod)
    }

  /** LSH band keys from a `sig` array column, computed or persisted — the
    * banding half of [[minhashBandKeys]], one [[bandHash]] per band. */
  def bandsFromSig(sigs: DataFrame, bands: Int): DataFrame = {
    val rows = NumPerms / bands
    sigs.select(col("doc_id"), col("lang"), explode(array(
        (0 until bands).map { b =>
          struct(lit(b).as("band"), bandHash(b, rows).as("bh"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("lang"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** All band keys for several band counts as ONE array-of-struct column
    * over `sig` — (w, band, bh) rows ready to explode or persist. Lets the
    * incremental gate compute and store every banding width in a single
    * row-local projection (one fold per band, same constants as
    * [[bandsFromSig]]/[[bandSelectsSql]]).
    */
  def bandStructs(widths: Seq[Int]): Column = array(
    (for (w <- widths; b <- 0 until w) yield
      struct(lit(w).as("w"), lit(b).as("band"),
        bandHash(b, NumPerms / w).as("bh"))): _*)


  /** Signature-overlap count between two sig-array columns — the verify
    * predicate (`>= 45` of [[NumPerms]] ≈ Jaccard 0.7), matching
    * [[matchTermsSql]] term for term. Evolution of the shape, all three
    * measured: a sum of 64 element_at equality terms is 4-6× slower than
    * a zip_with fold on millions of pairs (the when-chain falls out of
    * whole-stage codegen as one enormous expression); the fold in turn
    * evaluates INTERPRETED (HOFs are CodegenFallback) — ~1 s/batch at
    * sf0.1's verify volume but the wall once the 100× store verifies
    * ~170 M rows/batch post-r16 (verify-then-distinct). Now a native
    * codegen'd expression ([[graft.functions.SigOverlap]]): one fused
    * loop inside whole-stage codegen, exact same integer count.
    */
  def sigOverlap(sa: Column, sb: Column): Column =
    graft.functions.SigOverlap(sa, sb)

  /** The predicate form `sigOverlap(sa, sb) >= k` via the early-exit
    * native expression — value-identical (PropertySpec gates the law
    * against [[sigOverlap]] across thresholds); use wherever the count
    * is only ever compared, which at the 100× store's verify volume is
    * the hot loop (failing pairs exit after ~20 of 64 positions).
    */
  def sigOverlapAtLeast(sa: Column, sb: Column, k: Int): Column =
    graft.functions.SigOverlapAtLeast(sa, sb, k)

  /** The verify threshold shared with every minhash oracle: ⌈0.7·perms⌉. */
  private[graft] val VerifyMin: Int = (NumPerms * 7 + 9) / 10

  /** Per-doc summary of verified candidate pairs: n_near + canonical min id. */
  private def summarize(allIds: DataFrame, pairs: DataFrame): DataFrame = {
    val partners = pairs.select(col("a_id").as("doc_id"), col("b_id").as("partner"))
      .unionAll(pairs.select(col("b_id").as("doc_id"), col("a_id").as("partner")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"), min(col("partner")).as("min_partner"))
    allIds.join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        least(col("doc_id"), coalesce(col("min_partner"), col("doc_id"))).as("canonical_id"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle tail: pairs CTE → per-doc summary. */
  private def summarizeSql: String =
    s"""partners AS (
       |  SELECT doc_id, COUNT(*) AS n_near, MIN(partner) AS min_partner
       |  FROM (SELECT a_id AS doc_id, b_id AS partner FROM pairs
       |        UNION ALL
       |        SELECT b_id AS doc_id, a_id AS partner FROM pairs)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |       COALESCE(p.n_near, 0) AS n_near,
       |       LEAST(d.doc_id, COALESCE(p.min_partner, d.doc_id)) AS canonical_id
       |FROM documents d LEFT JOIN partners p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** MinHash + LSH banding: signature → 16 band hashes → same-band join →
    * signature-overlap estimate ≥ 45/64 (~0.7 Jaccard) confirms a pair.
    *
    * Scale shape: one shuffle to build signatures (explode+agg with map-side
    * partial min), one shuffle on (band, bandhash, lang) for candidates —
    * never a full pairwise compare. Language is folded into the band key as
    * cheap blocking: it caps bucket sizes on this homogeneous corpus and
    * cross-language token dups are not meaningful duplicates.
    */
  /** All verified near-dup pairs (a_id < b_id, language-blocked): 16×4-band
    * LSH candidates confirmed by the ≥[[VerifyMin]]/64 signature-overlap
    * predicate — the batch standard. Shared by `dedup_minhash_lsh` and the
    * streaming verified-gate metrics (`stream_neardup_unordered`), so the
    * streaming queries' batch comparison set can never drift from the
    * batch query itself.
    */
  def verifiedPairs(docs: DataFrame): DataFrame = {
    // cached: the run reads the signatures three times (bands, both sides
    // of the verify join). The entry is plan-keyed (one per fixture, ~3 MB
    // at sf0.1) and never unpersisted here; SparkEntry.timeRun clears
    // Spark's cache before each timed run, so every timed run pays the build
    val sigs = minhashSignatures(docs).cache()
    val rows = NumPerms / MinhashBands
    val bands = sigs.select(col("doc_id"), col("lang"), explode(array(
      (0 until MinhashBands).map { b =>
        struct(lit(b).as("band"), bandHash(b, rows).as("bh"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("lang"), col("bb.band"), col("bb.bh"))
    val candIds = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val withSigs = candIds
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sa")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")), "b_id")
    // the VERIFIED pairs are cached too, plan-keyed like the sigs above:
    // a consumer that reads them twice in one run (the unordered/ttl/late
    // streaming comparisons) pays the candidate join + verify fold once.
    // Verify via the early-exit predicate form (every consumer reads only
    // the id pair).
    withSigs
      .filter(sigOverlapAtLeast(col("sa"), col("sb"), VerifyMin))
      .select(col("a_id"), col("b_id"))
      .cache()
  }

  val dedupMinhashLsh = QueryDef(
    "dedup_minhash_lsh",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
      val pairs = verifiedPairs(docs)
      summarize(docs.select(col("doc_id")), pairs)
    },
    Some {
      val minCols = minColsSql
      val bandSelects = bandSelectsSql(MinhashBands)
      val matchTerms = matchTermsSql
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |         unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |hashed AS (
         |  SELECT doc_id, lang, ${tokHashSql("tok")} AS h FROM toks),
         |sigs AS (
         |  SELECT doc_id, lang,
         |    $minCols
         |  FROM hashed GROUP BY doc_id, lang),
         |bands AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.lang = b.lang
         |   AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT a_id, b_id
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = a_id
         |  JOIN sigs sb ON sb.doc_id = b_id
         |  WHERE $matchTerms >= ${(NumPerms * 7 + 9) / 10}),
         |$summarizeSql""".stripMargin
    },
    notes = "MinHash(64) + LSH(16×4) over universal-hash perms; full DuckDB oracle")

  /** doc → 30-bit SimHash over its token multiset (frequency-weighted). */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("g", (lit(SimA) * tokHash(col("tok")) + lit(SimB)) % lit(P))
    val bitSums = tf.groupBy(col("doc_id"), col("lang"))
      .agg((0 until SimhashBits).map { i =>
        sum(when(shiftright(col("g"), i).bitwiseAND(lit(1L)) === 1L, col("freq"))
          .otherwise(-col("freq"))).as(s"s$i")
      }.head, (1 until SimhashBits).map { i =>
        sum(when(shiftright(col("g"), i).bitwiseAND(lit(1L)) === 1L, col("freq"))
          .otherwise(-col("freq"))).as(s"s$i")
      }: _*)
    bitSums.select(col("doc_id"), col("lang"),
      (0 until SimhashBits).map { i =>
        when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as("fp"))
  }

  /** fps → one row per (doc, band): the 3×10-bit LSH band key. Shared by
    * `dedup_simhash` and `dedup_levenshtein` (which uses the band as its
    * candidate blocking key).
    */
  def simhashBands(fps: DataFrame): DataFrame = simhashBands(fps, 10)

  /** Band explode with a chosen band WIDTH — the LSH sizing knob. Bucket
    * collision density grows with corpus size at fixed width, so production
    * sizing widens bands as the corpus grows (10 bits ≈ 1k buckets for the
    * test corpus; 15 bits ≈ 32k buckets for the 100× scale-evidence run;
    * billion-doc corpora use 16-24 bits over a 64-bit fingerprint). Wider
    * bands trade recall (fewer bands ⇒ a near-dup pair must agree on a
    * longer prefix region) for candidate sparsity; the registered queries
    * pin the 10-bit geometry so the oracle stays byte-stable, and
    * [[graft.tools.ScaleEvidence]] measures the widened variant.
    */
  def simhashBands(fps: DataFrame, bitsPerBand: Int): DataFrame = {
    val nBands = SimhashBits / bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    fps.select(col("doc_id"), col("lang"), col("fp"), explode(array(
      (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("fp"), b * bitsPerBand).bitwiseAND(lit(mask)).as("bv"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("lang"), col("fp"), col("bb.band"), col("bb.bv"))
  }

  /** Containment-scored candidate pairs at a chosen band width — the body of
    * `dedup_containment` refactored so the scale harness can run the widened
    * geometry on a big corpus. Returns (a_id, b_id, n_common,
    * containment_bp ≥ 8000) pairs.
    */
  /** Distinct same-band candidate pairs (a_id < b_id) from a simhash band
    * table — shared by `dedup_containment` and `dedup_levenshtein` so the
    * blocking join's key/distinct semantics live in one place.
    */
  def bandCandidatePairs(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  def containmentPairs(docs: DataFrame, bitsPerBand: Int): DataFrame = {
    val cand = bandCandidatePairs(simhashBands(simhashFingerprints(docs), bitsPerBand))
    val toks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ts"))
    cand
      .join(toks.select(col("doc_id").as("a_id"), col("ts").as("ta")), "a_id")
      .join(toks.select(col("doc_id").as("b_id"), col("ts").as("tb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("n_common"),
        expr("CAST(size(array_intersect(ta, tb)) * 10000 AS BIGINT) " +
          "DIV least(size(ta), size(tb))").as("containment_bp"))
      .filter(col("containment_bp") >= 8000)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** DuckDB twin of [[simhashFingerprints]]+[[simhashBands]]: the CTE chain
    * `tf → hashed → bitsums → fps → bands` (no leading WITH), over documents
    * filtered by `docWhere` (empty string = whole table). Shared by the
    * simhash and levenshtein oracles so the fingerprint definition cannot
    * drift between them.
    */
  def simhashBandsSql(docWhere: String): String = {
    val bandSelects = (0 until SimhashBands)
      .map(b => s"SELECT doc_id, lang, fp, $b AS band, (fp >> ${b * 10}) & 1023 AS bv FROM fps")
      .mkString("\n  UNION ALL\n  ")
    s"""${simhashFpsSql(docWhere)},
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** The width-independent half of [[simhashBandsSql]]: the CTE chain
    * `tf → hashed → bitsums → fps` (no leading WITH, no bands). The
    * containment oracle appends its own DYNAMIC-width bands CTE on top.
    */
  def simhashFpsSql(docWhere: String): String = {
    val bitSumCols = (0 until SimhashBits)
      .map(i => s"SUM(CASE WHEN (g >> $i) & 1 = 1 THEN freq ELSE -freq END) AS s$i")
      .mkString(",\n    ")
    val fpTerms = (0 until SimhashBits)
      .map(i => s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""tf AS (
       |  SELECT doc_id, lang, tok, COUNT(*) AS freq
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |        FROM documents $docWhere)
       |  GROUP BY doc_id, lang, tok),
       |hashed AS (
       |  SELECT doc_id, lang, freq,
       |         ($SimA * (${tokHashSql("tok")}) + $SimB) % $P AS g
       |  FROM tf),
       |bitsums AS (
       |  SELECT doc_id, lang,
       |    $bitSumCols
       |  FROM hashed GROUP BY doc_id, lang),
       |fps AS (
       |  SELECT doc_id, lang, $fpTerms AS fp FROM bitsums)""".stripMargin
  }

  /** LSH band width derived from corpus size — the auto-sizing rule for the
    * one measured superlinear knob (ScaleEvidence r5: 10-bit containment
    * grew 5.2× wall at 100× corpus because ~2^10 buckets densify; 15-bit
    * restored ~40% of that wall). Rule: keep expected bucket occupancy ≤ ~1
    * (2^bits ≥ nDocs), clamped to the widths that divide the 30-bit
    * fingerprint — 10 bits (3 bands, max recall) up to 1024 docs, 15 bits
    * (2 bands, sparse buckets) beyond. At 100 TB the count feeding this is
    * parquet-metadata-only (count(*) never scans data pages), i.e. the same
    * cost class as AQE's runtime stats.
    */
  def autoBandBits(nDocs: Long): Int = if (nDocs <= 1024L) 10 else 15

  /** SimHash near-dup: 30-bit fingerprint, 3×10-bit band join for candidates,
    * Hamming distance ≤ 4 confirms. Same two-shuffle scale shape as MinHash.
    */
  val dedupSimhash = QueryDef(
    "dedup_simhash",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
      val fps = simhashFingerprints(docs).cache()
      val bands = simhashBands(fps)
      val pairs = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.fp").as("fa"), col("b.fp").as("fb"))
        .distinct()
        .filter(bit_count(col("fa").bitwiseXOR(col("fb"))) <= HammingMax)
        .select(col("a_id"), col("b_id"))
      summarize(docs.select(col("doc_id")), pairs)
    },
    Some {
      s"""WITH ${simhashBandsSql("")},
         |pairs AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |           a.fp AS fa, b.fp AS fb
         |    FROM bands a JOIN bands b
         |      ON a.band = b.band AND a.bv = b.bv AND a.lang = b.lang
         |     AND a.doc_id < b.doc_id)
         |  WHERE bit_count(xor(fa, fb)) <= $HammingMax),
         |$summarizeSql""".stripMargin
    },
    notes = "SimHash(30) + 3×10 banding, Hamming ≤ 4; full DuckDB oracle")

  /** Containment near-dup: |A∩B| / min(|A|,|B|) over token sets — the
    * ASYMMETRIC complement to Jaccard that catches subset duplicates (a doc
    * quoted wholesale inside a larger one scores ~1.0 here but low on
    * Jaccard, which the union denominator dilutes). Candidates come from
    * the shared SimHash band blocking; the exact set-intersection verify
    * runs only on band-bucketed pairs. Scores are integerized to basis
    * points with integer division BEFORE filtering, so both engines make
    * identical keep/drop decisions.
    *
    * The band width is AUTO-SIZED from the corpus count ([[autoBandBits]]):
    * both engines derive the same width from the same count — Spark via one
    * metadata-only count job before planning, the oracle via a scalar `w`
    * CTE — so the geometry stays in lockstep at every scale factor without
    * a hardcoded knob (the r5 scale run measured fixed-10-bit growing 5.2×
    * at 100× corpus; the auto rule picks 15-bit there).
    */
  val dedupContainment = QueryDef(
    "dedup_containment",
    (spark, dir) => {
      val docs = load(spark, dir, "documents").filter(col("doc_id") % 10 === 0)
      containmentPairs(docs, autoBandBits(docs.count()))
    },
    Some(s"""
      WITH ${simhashFpsSql("WHERE doc_id % 10 = 0")},
      w AS (
        SELECT CASE WHEN COUNT(*) <= 1024 THEN 10 ELSE 15 END AS bits,
               CASE WHEN COUNT(*) <= 1024 THEN 3 ELSE 2 END AS nb
        FROM documents WHERE doc_id % 10 = 0),
      bands AS (
        SELECT doc_id, lang, fp, band,
               (fp >> (band * bits)) & ((1::BIGINT << bits) - 1) AS bv
        FROM fps, w, (SELECT unnest([0, 1, 2]) AS band) bs
        WHERE band < nb),
      toks AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
        FROM documents WHERE doc_id % 10 = 0),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.lang = b.lang
         AND a.doc_id < b.doc_id),
      scored AS (
        SELECT a_id, b_id,
               CAST(len(list_intersect(ta.ts, tb.ts)) AS BIGINT) AS n_common,
               (CAST(len(list_intersect(ta.ts, tb.ts)) * 10000 AS BIGINT))
                 // least(len(ta.ts), len(tb.ts)) AS containment_bp
        FROM cand
        JOIN toks ta ON ta.doc_id = a_id
        JOIN toks tb ON tb.doc_id = b_id)
      SELECT a_id, b_id, n_common, CAST(containment_bp AS BIGINT) AS containment_bp
      FROM scored
      WHERE containment_bp >= 8000
      ORDER BY a_id, b_id"""))

  /** Prefix-filtered set-similarity join (AllPairs/PPJoin family) — the
    * EXACT-RECALL complement to the probabilistic LSH battery: with tokens
    * in one global canonical order (ascending document frequency, ties by
    * token), any pair with Jaccard ≥ τ MUST share a token inside each
    * side's (n − ⌈τ·n⌉ + 1)-prefix, so blocking on prefix tokens alone
    * misses nothing (Bayardo et al., WWW'07) — unlike MinHash banding,
    * whose recall is only probabilistic. Rarest-first ordering makes the
    * prefix postings the SPARSEST ones, so the candidate join stays small
    * exactly where a frequent-token join would blow up.
    *
    * The oracle is the BRUTE-FORCE token join (same τ, same subset, the
    * `dedup_jaccard_tokens` computation): a hash-match is an empirical
    * check of the exact-recall theorem itself — one missed pair and the
    * row sets differ.
    *
    * Scale shape: df + rank are vocabulary-bounded (the global rank sort is
    * one vocabulary-sized partition — at web scale you'd range-partition
    * the rank, it is order-isomorphic); the prefix join's fan-out is
    * bounded by rare-token posting lists; the exact verify touches only
    * surviving candidates. τ = 0.5 ⇒ prefix length n − ((n+1) div 2) + 1,
    * integer in both engines.
    */
  val dedupPrefixFilter = QueryDef(
    "dedup_prefix_filter",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = load(spark, dir, "documents")
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("lang"),
          array_distinct(split(col("text"), " ")).as("toks"))
        .cache()
      val e = d.select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      val ranked = e.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .withColumn("r", row_number().over(Window.orderBy(col("df"), col("tok"))))
      val pref = e
        .join(ranked.select(col("tok"), col("r")), "tok")
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("r"))))
        .filter(col("pos") <= col("n") - expr("(n + 1) div 2") + 1)
        .select(col("doc_id"), col("lang"), col("tok"))
      val cand = pref.as("a").join(pref.as("b"),
          col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      cand
        .join(d.select(col("doc_id").as("a_id"), col("toks").as("ta")), "a_id")
        .join(d.select(col("doc_id").as("b_id"), col("toks").as("tb")), "b_id")
        .select(col("a_id"), col("b_id"),
          graft.Tables.basisPoints(
            size(array_intersect(col("ta"), col("tb"))) /
              (size(col("ta")) + size(col("tb")) -
                size(array_intersect(col("ta"), col("tb")))))
            .as("jaccard_bp"))
        .filter(col("jaccard_bp") >= 5000)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
                 FROM documents WHERE doc_id % 20 = 0),
           e AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
           c AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
                 FROM e a JOIN e b ON a.tok = b.tok AND a.lang = b.lang
                                   AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
           n AS (SELECT doc_id, len(toks) AS n FROM d)
      SELECT a_id, b_id,
             CAST(floor(common / (na.n + nb.n - common) * 10000 + 0.5) AS BIGINT) AS jaccard_bp
      FROM c JOIN n na ON c.a_id = na.doc_id JOIN n nb ON c.b_id = nb.doc_id
      WHERE CAST(floor(common / (na.n + nb.n - common) * 10000 + 0.5) AS BIGINT) >= 5000
      ORDER BY a_id, b_id"""),
    notes = "exact-recall prefix filtering; oracle = brute force, hash-match checks the theorem")

  /** Sorted-neighborhood record linkage — the third blocking family next to
    * LSH banding (`dedup_minhash_lsh`) and prefix filtering
    * (`dedup_prefix_filter`): sort by a discriminating key and compare each
    * record only with its w=3 successors, so candidate count is exactly
    * w·n no matter how skewed the key distribution (LSH buckets can
    * explode on hot bands; the neighborhood cannot). Distribution-honest
    * form: records are range-blocked by the key's 2-char prefix and the
    * window runs per block — same-block neighbors only, which is the
    * documented semantics (a cross-block near-pair with different leading
    * 2 chars is by definition far in sort order); both engines replay the
    * identical blocked window, so the oracle pins it exactly.
    */
  val dedupSortedNeighborhood = QueryDef(
    "dedup_sorted_neighborhood",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = load(spark, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lower(substring(col("text"), 1, 40)).as("prefix"))
        .withColumn("blk", substring(col("prefix"), 1, 2))
      val w = Window.partitionBy(col("blk"))
        .orderBy(col("prefix"), col("doc_id"))
      val withNbrs = (1 to 3).foldLeft(d) { (df, k) =>
        df.withColumn(s"id_$k", lead(col("doc_id"), k).over(w))
          .withColumn(s"pfx_$k", lead(col("prefix"), k).over(w))
      }
      (1 to 3).map { k =>
        withNbrs.filter(col(s"id_$k").isNotNull)
          .select(col("doc_id").as("a_id"), col(s"id_$k").as("b_id"),
            levenshtein(col("prefix"), col(s"pfx_$k")).cast("long")
              .as("edit_dist"))
      }.reduce(_ unionAll _)
        .filter(col("edit_dist") <= 25)
        .orderBy(col("a_id"), col("b_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lower(substr(text, 1, 40)) AS prefix,
               substr(lower(substr(text, 1, 40)), 1, 2) AS blk
        FROM documents WHERE doc_id % 5 = 0),
      nb AS (
        SELECT doc_id, prefix,
               LEAD(doc_id, 1) OVER w AS id_1, LEAD(prefix, 1) OVER w AS pfx_1,
               LEAD(doc_id, 2) OVER w AS id_2, LEAD(prefix, 2) OVER w AS pfx_2,
               LEAD(doc_id, 3) OVER w AS id_3, LEAD(prefix, 3) OVER w AS pfx_3
        FROM d
        WINDOW w AS (PARTITION BY blk ORDER BY prefix, doc_id)),
      pairs AS (
        SELECT doc_id AS a_id, id_1 AS b_id,
               CAST(levenshtein(prefix, pfx_1) AS BIGINT) AS edit_dist
        FROM nb WHERE id_1 IS NOT NULL
        UNION ALL
        SELECT doc_id, id_2, CAST(levenshtein(prefix, pfx_2) AS BIGINT)
        FROM nb WHERE id_2 IS NOT NULL
        UNION ALL
        SELECT doc_id, id_3, CAST(levenshtein(prefix, pfx_3) AS BIGINT)
        FROM nb WHERE id_3 IS NOT NULL)
      SELECT a_id, b_id, edit_dist FROM pairs
      WHERE edit_dist <= 25
      ORDER BY a_id, b_id"""),
    notes = "w=3 sorted-neighborhood linkage; candidates exactly w*n, skew-proof by construction")

  /** Dedup-quality evaluation — the recall@10 twin for the dedup surface:
    * on a 1-in-5 doc sample, compare the production MinHash-LSH CANDIDATE
    * set (same 16×4 banding, same lang blocking as dedup_minhash_lsh)
    * against exact token-Jaccard ≥ 0.70 ground truth computed brute-force
    * on the sample. Output: one row of exact counts + precision/recall in
    * integer bp.
    *
    * Scale posture: this is how dedup quality is measured in production —
    * the exact all-pairs ground truth is bounded by the SAMPLE (the
    * token-inverted-index join is all-pairs only within the sample), while
    * the candidate side runs the real banded path. Recall misses here are
    * exactly the pairs banding loses (different-band near-dups and
    * cross-lang pairs excluded by the lang blocking fold).
    */
  val dedupEval = QueryDef(
    "dedup_eval",
    (spark, dir) => {
      // The eval sample is FIXED-SIZE, not a fixed fraction: the modulus
      // auto-sizes from the corpus count (~1000 sampled docs at any scale;
      // floor of 5 keeps the sf0.01/sf0.1 gates on the historical 20%
      // sample). An LSH-quality estimate does not improve with corpus size
      // — the exact ground truth's inverted-index pair join must not grow
      // with it either (r9: 100× axis showed 0.57×/row with the 20%
      // fraction; fixed-size sampling makes eval cost scale-flat). The
      // modulus is derived RELATIONALLY (broadcast 1-row aggregate, the
      // text_tfidf doc-count pattern) so the whole eval is one job — a
      // driver-side docs.count() here cost a second full scan that landed
      // in the driver's single timed pass (r9 bench: 5.16 s vs 1.87 s).
      val docs = load(spark, dir, "documents")
      val md = docs.agg(
        expr("greatest(CAST(5 AS BIGINT), count(1) DIV 1000)").as("md"))
      // repartition the sample once, then localCheckpoint it: the ~1000-row
      // sample feeds FOUR downstream branches (token self-join ×2, bands
      // self-join ×2) and without truncation each branch replays the full
      // scan+count+filter pipeline — r10 explain showed documents scanned
      // 8× and no exchange reuse (the BHJ sides broadcast, so shuffle reuse
      // can't fire). Materializing the bounded sample once is the
      // graph-battery checkpoint pattern. UNCONDITIONAL numbered
      // repartition, not spreadIfNarrow: the probe's `.rdd` finalizes a
      // plan that contains the broadcast count-aggregate, which under AQE
      // materializes that stage as a hidden extra scan job before the
      // checkpoint re-runs it (spreadIfNarrow's scan-only precondition).
      // The partition count must be EXPLICIT: a bare repartition(col) is a
      // coalescable shuffle origin, and AQE folds the tiny sample to ONE
      // partition — single-threading every downstream self-join (measured
      // +0.9 s at sf0.1); REPARTITION_BY_NUM is exempt from coalescing.
      val sub = docs.crossJoin(broadcast(md))
        .filter(col("doc_id") % col("md") === 0).drop("md")
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("doc_id"))
        .localCheckpoint()
      // exact ground truth: token-set Jaccard >= 0.70 via inverted-index join
      val toks = sub.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      val inter = toks.as("a").join(toks.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("inter"))
      val gt = inter
        .join(broadcast(sizes.toDF("a_id", "na")), Seq("a_id"))
        .join(broadcast(sizes.toDF("b_id", "nb")), Seq("b_id"))
        .filter(col("inter") * 10000 >=
          lit(7000) * (col("na") + col("nb") - col("inter")))
        .select(col("a_id"), col("b_id")).withColumn("is_true", lit(1L))
      // production candidate set: same banding as dedup_minhash_lsh;
      // sub is already repartitioned above — don't reshuffle it. No cache:
      // the bands self-join shuffles two IDENTICAL subplans on the same
      // keys, so ReuseExchange computes the signatures once; a .cache()
      // here only added a cold materialization pass to the first (timed)
      // run (r9 driver bench regression).
      val sigs = minhashSignatures(sub, repartitionFirst = false)
      val rows = NumPerms / MinhashBands
      val bands = sigs.select(col("doc_id"), col("lang"), explode(array(
        (0 until MinhashBands).map { b =>
          struct(lit(b).as("band"), bandHash(b, rows).as("bh"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("lang"), col("bb.band"), col("bb.bh"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct().withColumn("is_cand", lit(1L))
      cand.join(gt, Seq("a_id", "b_id"), "full_outer")
        .agg(
          sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"),
          sum(coalesce(col("is_true"), lit(0L))).as("n_true"),
          sum(coalesce(col("is_cand"), lit(0L)) *
            coalesce(col("is_true"), lit(0L))).as("tp"))
        .select(col("n_cand"), col("n_true"), col("tp"),
          expr("CASE WHEN n_cand > 0 THEN (tp * 10000) DIV n_cand ELSE 0L END")
            .as("precision_bp"),
          expr("CASE WHEN n_true > 0 THEN (tp * 10000) DIV n_true ELSE 0L END")
            .as("recall_bp"))
    },
    Some {
      val minCols = minColsSql
      val bandSelects = bandSelectsSql(MinhashBands)
      s"""WITH w AS (
         |  SELECT GREATEST(5, COUNT(*) // 1000) AS md FROM documents),
         |sub AS (
         |  SELECT d.* FROM documents d, w WHERE doc_id % md = 0),
         |toks AS (
         |  SELECT doc_id, lang,
         |         unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM sub),
         |sizes AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id),
         |gt AS (
         |  SELECT i.a_id, i.b_id, 1 AS is_true
         |  FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |        FROM toks a JOIN toks b
         |          ON a.tok = b.tok AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2) i
         |  JOIN sizes x ON i.a_id = x.doc_id
         |  JOIN sizes y ON i.b_id = y.doc_id
         |  WHERE i.inter * 10000 >= 7000 * (x.nt + y.nt - i.inter)),
         |hashed AS (
         |  SELECT doc_id, lang, ${tokHashSql("tok")} AS h FROM toks),
         |sigs AS (
         |  SELECT doc_id, lang,
         |    $minCols
         |  FROM hashed GROUP BY doc_id, lang),
         |bands AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, 1 AS is_cand
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.lang = b.lang
         |   AND a.doc_id < b.doc_id),
         |m AS (
         |  SELECT COALESCE(c.is_cand, 0) AS is_cand,
         |         COALESCE(g.is_true, 0) AS is_true
         |  FROM cand c FULL OUTER JOIN gt g
         |    ON c.a_id = g.a_id AND c.b_id = g.b_id)
         |SELECT CAST(SUM(is_cand) AS BIGINT) AS n_cand,
         |       CAST(SUM(is_true) AS BIGINT) AS n_true,
         |       CAST(SUM(is_cand * is_true) AS BIGINT) AS tp,
         |       CASE WHEN SUM(is_cand) > 0
         |            THEN CAST((SUM(is_cand * is_true) * 10000) // SUM(is_cand) AS BIGINT)
         |            ELSE 0 END AS precision_bp,
         |       CASE WHEN SUM(is_true) > 0
         |            THEN CAST((SUM(is_cand * is_true) * 10000) // SUM(is_true) AS BIGINT)
         |            ELSE 0 END AS recall_bp
         |FROM m""".stripMargin
    },
    notes = "sampled precision/recall of the production LSH candidate set vs exact Jaccard ground truth")

  /** CONTENT-DEFINED CHUNKING (the Rabin/FastCDC idea at token granularity,
    * gear-style: a token whose rolling hash ≡ 0 mod 8 closes a chunk, so
    * boundaries depend only on local content and an insertion reshuffles
    * only its own chunk — the property fixed-size chunking lacks). Used by
    * every dedup storage engine and by training-corpus near-dup splitting.
    *
    * Scale design: the whole chunker is ROW-LOCAL — one higher-order
    * `aggregate` fold with a struct accumulator walks each document's
    * token-hash array once, emitting (chunk_hash, ntok) pairs, all inside a
    * single projection (custom codegen'd rolling_hash + lazy lambdas, no
    * per-token explode). The only shuffle in the plan carries one row per
    * CHUNK (~1/8 of tokens, then map-side partial to distinct hashes) for
    * the corpus-wide duplicate count — at 100 TB the heavy token stream
    * never leaves its partition. Oracle replays the identical chunking as
    * the explode + prefix-sum-window formulation (sequential semantics are
    * engine-checkable even though the Spark plan never materializes
    * per-token rows).
    */
  val textCdcChunk = QueryDef(
    "text_cdc_chunk",
    (spark, dir) => {
      val M = 100000000000000000L
      val ths = transform(split(col("text"), " "), t => RollingHash(t))
      val zero = expr(
        """named_struct(
             'done', CAST(array() AS ARRAY<STRUCT<ch: BIGINT, ntok: BIGINT>>),
             'acc', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT))""")
      val merge = (s: Column, t: Column) => {
        val folded = (s.getField("acc") * 31 + t) % M
        when(t % 8 === 0, struct(
          array_append(s.getField("done"),
            struct(folded.as("ch"), (s.getField("n") + 1).as("ntok")))
            .as("done"),
          lit(0L).as("acc"), lit(0L).as("n")))
          .otherwise(struct(s.getField("done").as("done"),
            folded.as("acc"), (s.getField("n") + 1).as("n")))
      }
      val finish = (s: Column) =>
        when(s.getField("n") > 0,
          array_append(s.getField("done"),
            struct(s.getField("acc").as("ch"), s.getField("n").as("ntok"))))
          .otherwise(s.getField("done"))
      load(spark, dir, "documents")
        .select(explode(aggregate(ths, zero, merge, finish)).as("c"))
        .select(col("c.ch").as("ch"), col("c.ntok").as("ntok"))
        .groupBy(col("ch"))
        .agg(count(lit(1)).as("cnt"), min(col("ntok")).as("ntok"))
        .agg(sum(col("cnt")).as("n_chunks"),
          count(lit(1)).as("distinct_chunks"),
          sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_chunks"),
          sum((col("cnt") - 1) * col("ntok")).as("savings_tokens"))
    },
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
      e AS (SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
                   toks[CAST(r.i AS INT)] AS tok
            FROM d, UNNEST(range(1, len(toks) + 1)) AS r(i)),
      t AS (SELECT doc_id, pos,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(list_filter(string_split(tok, ''),
                  c -> c <> ''), c -> CAST(unicode(c) AS BIGINT))),
                (a, c) -> (a * 31 + c) % 100000000000000000) AS th
            FROM e),
      f AS (SELECT doc_id, pos, th,
              CASE WHEN th % 8 = 0 THEN 1 ELSE 0 END AS b FROM t),
      wc AS (SELECT doc_id, pos, th,
               COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS chunk
             FROM f),
      chks AS (SELECT doc_id, chunk, CAST(COUNT(*) AS BIGINT) AS ntok,
                 list_reduce(list_prepend(0::BIGINT, list(th ORDER BY pos)),
                   (a, c) -> (a * 31 + c) % 100000000000000000) AS ch
               FROM wc GROUP BY doc_id, chunk),
      byh AS (SELECT ch, COUNT(*) AS cnt, MIN(ntok) AS ntok
              FROM chks GROUP BY ch)
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
             CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
             CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_chunks,
             CAST(SUM((cnt - 1) * ntok) AS BIGINT) AS savings_tokens
      FROM byh"""),
    notes = "gear-style content-defined chunking, fully row-local fold; only chunk hashes shuffle")

  /** EXACT SUBSTRING duplication spans (the suffix-array dedup of
    * "Deduplicating Training Data Makes Language Models Better", Lee et al.
    * 2022, re-expressed relationally): every 8-token gram is hashed, grams
    * occurring in ≥2 DISTINCT documents are the duplicated alphabet, and
    * per document the duplicated gram positions are merged into MAXIMAL
    * spans with the gaps-and-islands trick (pos − row_number is constant
    * within a run of consecutive duplicated positions). Output: the top-50
    * longest cross-document duplicated spans — exactly what you'd excise
    * from a training corpus.
    *
    * Scale design: gram hashing is row-local (nested higher-order fold over
    * the codegen'd token-hash array — no string re-concatenation); the only
    * per-gram shuffles are (a) the distinct-doc count per gram hash (two
    *-level aggregate, partial map-side) and (b) a semi-join of gram
    * positions against the duplicated-hash set — both O(grams), the same
    * asymptotics as the suffix-array pass, and both hash-partitioned with
    * no skew beyond true hot grams. The islands window is per document
    * (bounded partitions).
    */
  val dedupSubstringSpans = QueryDef(
    "dedup_substring_spans",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val M = 100000000000000000L
      val ths = transform(split(col("text"), " "), t => RollingHash(t))
      // spread BEFORE the token-hash/gram folds: the driver fixture is
      // one parquet file (one scan task), and this plan evaluates the
      // row-local gram build on both branches below — parallelize it
      // (r8: 2.26 s → sub-second at sf0.1, output unchanged; no-op on a
      // pre-split cluster scan)
      val base = graft.Tables.spreadIfNarrow(load(spark, dir, "documents"))
        .select(col("doc_id"), ths.as("ths"))
        .filter(size(col("ths")) >= 8)
      val gramArr = transform(
        sequence(lit(0), size(col("ths")) - 8),
        p => aggregate(slice(col("ths"), p + 1, lit(8)), lit(0L),
          (a, c) => (a * 31 + c) % M))
      val grams = base
        .select(col("doc_id"), posexplode(gramArr).as(Seq("pos", "g")))
      // cross-doc test in ONE shuffle of the gram stream: a gram is
      // duplicated iff ≥2 DISTINCT docs share it ⇔ min(doc_id) ≠
      // max(doc_id) (per-doc repeats collapse in the map-side partial);
      // the previous distinct()+count formulation shuffled the grams twice
      // (r9 A/B at 100×: 46.8 → 23.9 s, same output)
      val dupG = grams.groupBy(col("g"))
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .filter(col("mn") =!= col("mx"))
        .select(col("g"))
      val dupPos = grams.join(dupG, Seq("g"), "left_semi")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      dupPos
        .withColumn("isl", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("pos")).as("start_pos"),
          (max(col("pos")) - min(col("pos")) + 1).as("span_ngrams"),
          (max(col("pos")) - min(col("pos")) + 8).as("span_tokens"))
        .select(col("doc_id"), col("start_pos").cast("long").as("start_pos"),
          col("span_ngrams").cast("long").as("span_ngrams"),
          col("span_tokens").cast("long").as("span_tokens"))
        .orderBy(col("span_tokens").desc, col("doc_id"), col("start_pos"))
        .limit(50)
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                 tok -> list_reduce(list_prepend(0::BIGINT,
                   list_transform(list_filter(string_split(tok, ''),
                     c -> c <> ''), c -> CAST(unicode(c) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 100000000000000000)) AS ths
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8),
      grams AS (
        SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
               list_reduce(list_prepend(0::BIGINT,
                 ths[CAST(r.i + 1 AS INT):CAST(r.i + 8 AS INT)]),
                 (a, c) -> (a * 31 + c) % 100000000000000000) AS g
        FROM d, UNNEST(range(0, len(ths) - 7)) AS r(i)),
      dup_g AS (
        SELECT g FROM grams
        GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
      dup_pos AS (
        SELECT grams.doc_id, grams.pos FROM grams SEMI JOIN dup_g USING (g)),
      isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS isl
        FROM dup_pos)
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             CAST(MAX(pos) - MIN(pos) + 1 AS BIGINT) AS span_ngrams,
             CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
      FROM isl
      GROUP BY doc_id, isl
      ORDER BY span_tokens DESC, doc_id, start_pos
      LIMIT 50"""),
    notes = "Lee-et-al exact substring dedup: duplicated 8-gram islands merged to maximal spans, top-50")

  /** EXACT SUBSTRING EXCISION — the APPLY step [[dedupSubstringSpans]]
    * stops short of (Lee et al. 2022 §3: REMOVE the maximal repeated
    * substrings, don't just report them). Two generalizations over the
    * spans query:
    *
    *  1. TRUE INTERVAL UNION, not consecutive-position islands: an 8-gram
    *     at position p covers TOKENS [p, p+7], so grams at positions {0, 5}
    *     overlap in token space even though their positions aren't
    *     consecutive — `pos − row_number` islands would double-count the
    *     shared tokens. The union is the classic sweep: a new span starts
    *     exactly when pos exceeds the running max of all previous coverage
    *     ends (`max(pos+7) over rows preceding`), then spans are
    *     `sum(new)`-numbered — maximal coverage intervals per document.
    *  2. THE EXCISED RESIDUE IS PINNED EXACTLY: per document, every token
    *     position inside a span is dropped, and the survivors' order-
    *     sensitive fold hash ((a·31+th) mod M over kept token hashes in
    *     position order) is emitted — one BIGINT the oracle must reproduce
    *     byte-for-byte from its own sweep. covered+kept = total is also in
    *     the row, so the accounting identity is hash-gated too.
    *
    * Scale design: same one-shuffle cross-doc gram test as the spans query
    * (min(doc)≠max(doc) partial-aggregates map-side); the base token-hash
    * frame is localCheckpointed because THREE branches consume it (gram
    * stream, token stream, totals) and the per-row transform is the
    * expensive part (the phash-neardup lesson); the sweep window and the
    * fold are per-document (bounded partitions); covered positions
    * materialize as ≤8× the duplicated-gram rows, never tokens × spans.
    */
  val dedupSubstringMerge = QueryDef(
    "dedup_substring_merge",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val M = 100000000000000000L
      val ths = transform(split(col("text"), " "), t => RollingHash(t))
      val base = graft.Tables.spreadIfNarrow(load(spark, dir, "documents"))
        .select(col("doc_id"), ths.as("ths"))
        .filter(size(col("ths")) >= 8)
        .localCheckpoint() // 3 consumers; the per-row hash fold is the cost
      val gramArr = transform(
        sequence(lit(0), size(col("ths")) - 8),
        p => aggregate(slice(col("ths"), p + 1, lit(8)), lit(0L),
          (a, c) => (a * 31 + c) % M))
      val grams = base
        .select(col("doc_id"), posexplode(gramArr).as(Seq("pos", "g")))
      val dupG = grams.groupBy(col("g"))
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .filter(col("mn") =!= col("mx"))
        .select(col("g"))
      val dupPos = grams.join(dupG, Seq("g"), "left_semi")
        .select(col("doc_id"), col("pos").cast("long").as("pos"))
      // interval-union sweep: new span iff pos > max coverage end so far
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val spans = dupPos
        .withColumn("prev_end",
          max(col("pos") + 7).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_span",
          (col("prev_end").isNull || col("pos") > col("prev_end"))
            .cast("long"))
        .withColumn("span_id", sum(col("new_span")).over(w))
        .groupBy(col("doc_id"), col("span_id"))
        .agg(min(col("pos")).as("s"), (max(col("pos")) + 7).as("e"))
        .localCheckpoint() // consumed by the per-doc rollup AND the cover set
      val perDoc = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).as("covered_tokens"))
      val covered = spans.select(col("doc_id"),
        explode(sequence(col("s"), col("e"))).as("cpos"))
      val toks = base
        .select(col("doc_id"), posexplode(col("ths")).as(Seq("tpos", "th")))
        .select(col("doc_id"), col("tpos").cast("long").as("tpos"), col("th"))
      val kept = toks.join(covered,
        toks("doc_id") === covered("doc_id") && col("tpos") === col("cpos"),
        "left_anti")
      val keptAgg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("kept_tokens"),
          aggregate(
            transform(array_sort(collect_list(struct(col("tpos"), col("th")))),
              s => s("th")),
            lit(0L), (a, c) => (a * 31 + c) % M).as("kept_hash"))
      perDoc
        .join(base.select(col("doc_id"),
          size(col("ths")).cast("long").as("total_tokens")), Seq("doc_id"))
        .join(keptAgg, Seq("doc_id"), "left") // fully-covered docs keep 0
        .select(col("doc_id"), col("total_tokens"), col("n_spans"),
          col("covered_tokens"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          coalesce(col("kept_hash"), lit(0L)).as("kept_hash"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS MATERIALIZED (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                 tok -> list_reduce(list_prepend(0::BIGINT,
                   list_transform(list_filter(string_split(tok, ''),
                     c -> c <> ''), c -> CAST(unicode(c) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 100000000000000000)) AS ths
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8),
      grams AS MATERIALIZED (
        SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
               list_reduce(list_prepend(0::BIGINT,
                 ths[CAST(r.i + 1 AS INT):CAST(r.i + 8 AS INT)]),
                 (a, c) -> (a * 31 + c) % 100000000000000000) AS g
        FROM d, UNNEST(range(0, len(ths) - 7)) AS r(i)),
      dup_g AS (
        SELECT g FROM grams
        GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
      dup_pos AS MATERIALIZED (
        SELECT grams.doc_id, grams.pos FROM grams SEMI JOIN dup_g USING (g)),
      sweep AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS new_span
        FROM dup_pos),
      numbered AS (
        SELECT doc_id, pos,
               SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS span_id
        FROM sweep),
      spans AS MATERIALIZED (
        SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 7 AS e
        FROM numbered GROUP BY doc_id, span_id),
      per_doc AS (
        SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS covered_tokens
        FROM spans GROUP BY doc_id),
      cov AS (
        SELECT doc_id, UNNEST(range(s, e + 1)) AS cpos FROM spans),
      toks AS (
        SELECT doc_id, CAST(r.i AS BIGINT) AS tpos,
               ths[CAST(r.i + 1 AS INT)] AS th
        FROM d, UNNEST(range(0, len(ths))) AS r(i)),
      kept AS (
        SELECT t.doc_id, t.tpos, t.th
        FROM toks t ANTI JOIN cov c
          ON t.doc_id = c.doc_id AND t.tpos = c.cpos),
      ka AS (
        SELECT doc_id, COUNT(*) AS kept_tokens,
               list_reduce(list_prepend(0::BIGINT, list(th ORDER BY tpos)),
                 (a, c) -> (a * 31 + c) % 100000000000000000) AS kept_hash
        FROM kept GROUP BY doc_id),
      tot AS (SELECT doc_id, len(ths) AS total_tokens FROM d)
      SELECT p.doc_id, CAST(total_tokens AS BIGINT) AS total_tokens,
             CAST(n_spans AS BIGINT) AS n_spans,
             CAST(covered_tokens AS BIGINT) AS covered_tokens,
             CAST(COALESCE(kept_tokens, 0) AS BIGINT) AS kept_tokens,
             CAST(COALESCE(kept_hash, 0) AS BIGINT) AS kept_hash
      FROM per_doc p
      JOIN tot USING (doc_id)
      LEFT JOIN ka USING (doc_id)
      ORDER BY doc_id"""),
    notes = "Lee-et-al apply step: interval-UNION sweep (overlap-aware, not consecutive-only islands) + excision, kept token stream pinned by an order-sensitive fold hash; covered+kept=total hash-gated")

  /** WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken 2003 — the
    * MOSS algorithm): slide a window of W=4 consecutive 4-token-gram hashes
    * and keep each window's minimum, rightmost on ties. The guarantee: any
    * shared run of ≥ W+K−1 tokens between two documents shares at least one
    * fingerprint, at an expected density of 2/(W+1) — position-robust
    * document fingerprinting with a proven detection bound, vs
    * text_fingerprint's whole-doc hash (brittle to any edit) and
    * dedup_substring_spans' every-gram index (W× heavier).
    *
    * The rightmost-argmin rule is evaluated per position p without
    * materializing windows: p is selected iff SOME full window [p−a, p+b]
    * (a+b = W−1) has every earlier in-window gram ≥ g[p] (ties lose to the
    * right) and every later one > g[p] — an OR over the W splits, each two
    * array_min's over adjacent slices.
    *
    * Scale design: gram hashing AND selection are one row-local projection
    * over codegen'd rolling hashes (higher-order transform/filter — no
    * per-gram explode of the heavy token stream); only the selected
    * fingerprints (~0.4 of grams) shuffle, once, for the corpus-wide
    * shared-fingerprint count — the same O(selected) exchange an index
    * build would do. Slice starts are clamped to ≥1 because a 0 start
    * errors in Spark while the bounds guard already kills those splits.
    */
  val textWinnowing = QueryDef(
    "text_winnowing",
    (spark, dir) => {
      val M = 100000000000000000L
      val K = 4 // gram size, tokens
      val W = 4 // winnowing window, grams
      val ths = transform(split(col("text"), " "), t => RollingHash(t))
      val base = load(spark, dir, "documents")
        .select(col("doc_id"), ths.as("ths"))
        .filter(size(col("ths")) >= K + W - 1) // at least one full window
      val gramArr = transform(
        sequence(lit(0), size(col("ths")) - K),
        p => aggregate(slice(col("ths"), p + 1, lit(K)), lit(0L),
          (a, c) => (a * 31 + c) % M))
      val withG = base.select(col("doc_id"), gramArr.as("g"))
      val n = size(col("g"))
      def selected(p: Column): Column = {
        val gp = element_at(col("g"), p + 1)
        (0 until W).map { a =>
          val b = W - 1 - a
          val bounds = (p >= lit(a)) && (p + lit(b) <= n - 1)
          val prevOk =
            if (a == 0) lit(true)
            else array_min(slice(col("g"), greatest(p - a + 1, lit(1)),
              lit(a))) >= gp
          val nextOk =
            if (b == 0) lit(true)
            else array_min(slice(col("g"), p + 2, lit(b))) > gp
          bounds && prevOk && nextOk
        }.reduce(_ || _)
      }
      val fps = transform(
        filter(sequence(lit(0), n - 1), p => selected(p)),
        p => element_at(col("g"), p + 1))
      val perDoc = withG
        .select(col("doc_id"), n.cast("long").as("n_grams"), fps.as("fps"))
        .select(col("doc_id"), col("n_grams"),
          size(col("fps")).cast("long").as("n_fp"),
          array_distinct(col("fps")).as("dfps"))
      // explode_outer + a null filter, not explode: for a plain explode the
      // optimizer infers `size(dfps) > 0` and pushes it below the projects
      // by substituting their aliases, which inlines the whole gram and
      // token-hash arrays at every `g` reference inside the selection
      // lambda and turns the linear pass into a cubic one per document.
      val fpDocs = perDoc.select(col("doc_id"), explode_outer(col("dfps")).as("fp"))
        .filter(col("fp").isNotNull)
      val shared = fpDocs.groupBy(col("fp"))
        .agg(count(lit(1)).as("ndocs")).filter(col("ndocs") >= 2)
        .select(col("fp"))
      val sharedPerDoc = fpDocs.join(shared, Seq("fp"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_fp"))
      perDoc
        .select(col("doc_id"), col("n_grams"), col("n_fp"),
          size(col("dfps")).cast("long").as("n_distinct_fp"))
        .join(sharedPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("n_fp"),
          col("n_distinct_fp"),
          coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                 tok -> list_reduce(list_prepend(0::BIGINT,
                   list_transform(list_filter(string_split(tok, ''),
                     c -> c <> ''), c -> CAST(unicode(c) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 100000000000000000)) AS ths
        FROM documents
        WHERE len(string_split(text, ' ')) >= 7),
      gl AS (
        SELECT doc_id,
               list_transform(range(0, len(ths) - 3), p ->
                 list_reduce(list_prepend(0::BIGINT,
                   ths[CAST(p + 1 AS INT):CAST(p + 4 AS INT)]),
                   (a, c) -> (a * 31 + c) % 100000000000000000)) AS g
        FROM d),
      pos AS (
        SELECT doc_id, g, len(g) AS n, CAST(r.p AS BIGINT) AS p,
               g[CAST(r.p + 1 AS INT)] AS gp
        FROM gl, UNNEST(range(0, len(g))) AS r(p)),
      sel AS (
        SELECT doc_id, p, gp FROM pos
        WHERE (p + 3 <= n - 1
               AND list_min(g[CAST(p + 2 AS INT):CAST(p + 4 AS INT)]) > gp)
           OR (p >= 1 AND p + 2 <= n - 1
               AND list_min(g[CAST(p AS INT):CAST(p AS INT)]) >= gp
               AND list_min(g[CAST(p + 2 AS INT):CAST(p + 3 AS INT)]) > gp)
           OR (p >= 2 AND p + 1 <= n - 1
               AND list_min(g[CAST(p - 1 AS INT):CAST(p AS INT)]) >= gp
               AND list_min(g[CAST(p + 2 AS INT):CAST(p + 2 AS INT)]) > gp)
           OR (p >= 3
               AND list_min(g[CAST(p - 2 AS INT):CAST(p AS INT)]) >= gp)),
      per AS (
        SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_grams FROM pos
        GROUP BY doc_id),
      selc AS (
        SELECT doc_id, COUNT(*) AS n_fp,
               COUNT(DISTINCT gp) AS n_distinct_fp
        FROM sel GROUP BY doc_id),
      fpd AS (SELECT DISTINCT doc_id, gp AS fp FROM sel),
      shared AS (SELECT fp FROM fpd GROUP BY fp HAVING COUNT(*) >= 2),
      spd AS (
        SELECT doc_id, COUNT(*) AS n_shared_fp
        FROM fpd SEMI JOIN shared USING (fp) GROUP BY doc_id)
      SELECT per.doc_id, n_grams,
             CAST(COALESCE(selc.n_fp, 0) AS BIGINT) AS n_fp,
             CAST(COALESCE(selc.n_distinct_fp, 0) AS BIGINT) AS n_distinct_fp,
             CAST(COALESCE(spd.n_shared_fp, 0) AS BIGINT) AS n_shared_fp
      FROM per
      LEFT JOIN selc ON per.doc_id = selc.doc_id
      LEFT JOIN spd ON per.doc_id = spd.doc_id
      ORDER BY per.doc_id"""),
    notes = "MOSS robust winnowing (w=4 over 4-token grams): rightmost window minima, row-local selection, shared-fingerprint rollup")

  /** Gate-quality audit: precision/recall of the VERIFY-LESS streaming
    * near-dup gate (`stream_neardup_gate`'s 4×16 wide banding, restated in
    * batch) against the batch verified-LSH standard — the measurement that
    * justifies (or indicts) shipping an ingestion gate without its verify
    * join. Ground truth = the docs [[dedupMinhashLsh]] would REMOVE
    * (canonical_id < doc_id after the ≥45/64 signature-overlap verify);
    * gate positives = docs a 4-band bucket pairs with a smaller doc_id.
    * Reports per-language n_removable / n_held / true positives /
    * precision / recall in bp — the r/b-tradeoff numbers the gate's
    * docstring cites, now a regression-gated query instead of a one-off
    * measurement. Composes the two existing pipelines (the `ann_recall`
    * pattern); the wide-band candidate pass adds one bucket-keyed shuffle
    * on top of the LSH run, nothing corpus-quadratic.
    */
  val dedupGateEval = QueryDef(
    "dedup_gate_eval",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
      val removable = dedupMinhashLsh.fn(spark, dir)
        .filter(col("canonical_id") < col("doc_id"))
        .select(col("doc_id")).withColumn("removable", lit(1))
      val gateBands = minhashBandKeys(docs, bands = 4)
      val keepers = gateBands.groupBy(col("band"), col("bh"), col("lang"))
        .agg(min(col("doc_id")).as("keeper"))
      val held = gateBands.join(keepers, Seq("band", "bh", "lang"))
        .filter(col("doc_id") > col("keeper"))
        .select(col("doc_id")).distinct().withColumn("held", lit(1))
      docs.select(col("doc_id"), col("lang"))
        .join(removable, Seq("doc_id"), "left")
        .join(held, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(col("removable")).as("n_removable"),
          count(col("held")).as("n_held"),
          sum(when(col("removable") === 1 && col("held") === 1, 1L)
            .otherwise(0L)).as("n_true_pos"))
        .select(col("lang"), col("n_removable"), col("n_held"),
          col("n_true_pos"),
          expr("(10000L * n_true_pos) div greatest(n_held, 1L)")
            .as("precision_bp"),
          expr("(10000L * n_true_pos) div greatest(n_removable, 1L)")
            .as("recall_bp"))
        .orderBy(col("lang"))
    },
    Some {
      val minCols = minColsSql
      val matchTerms = matchTermsSql
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |         unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |hashed AS (
         |  SELECT doc_id, lang, ${tokHashSql("tok")} AS h FROM toks),
         |sigs AS (
         |  SELECT doc_id, lang,
         |    $minCols
         |  FROM hashed GROUP BY doc_id, lang),
         |bands AS (
         |  ${bandSelectsSql(MinhashBands)}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.lang = b.lang
         |   AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT a_id, b_id
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = a_id
         |  JOIN sigs sb ON sb.doc_id = b_id
         |  WHERE $matchTerms >= ${(NumPerms * 7 + 9) / 10}),
         |removable AS (
         |  -- pairs always has a_id < b_id, so "has a smaller verified
         |  -- partner" (canonical_id < doc_id in the Spark summarize) is
         |  -- exactly the b_id side
         |  SELECT DISTINCT b_id AS doc_id FROM pairs),
         |gate_bands AS (
         |  ${bandSelectsSql(4)}),
         |keepers AS (
         |  SELECT band, bh, lang, MIN(doc_id) AS keeper
         |  FROM gate_bands GROUP BY band, bh, lang),
         |held AS (
         |  SELECT DISTINCT g.doc_id
         |  FROM gate_bands g JOIN keepers k
         |    ON g.band = k.band AND g.bh = k.bh AND g.lang = k.lang
         |  WHERE g.doc_id > k.keeper)
         |SELECT d.lang,
         |       COUNT(r.doc_id) AS n_removable,
         |       COUNT(hd.doc_id) AS n_held,
         |       CAST(SUM(CASE WHEN r.doc_id IS NOT NULL
         |                      AND hd.doc_id IS NOT NULL
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos,
         |       CAST((10000 * SUM(CASE WHEN r.doc_id IS NOT NULL
         |                              AND hd.doc_id IS NOT NULL
         |                             THEN 1 ELSE 0 END))
         |         // GREATEST(COUNT(hd.doc_id), 1) AS BIGINT) AS precision_bp,
         |       CAST((10000 * SUM(CASE WHEN r.doc_id IS NOT NULL
         |                              AND hd.doc_id IS NOT NULL
         |                             THEN 1 ELSE 0 END))
         |         // GREATEST(COUNT(r.doc_id), 1) AS BIGINT) AS recall_bp
         |FROM documents d
         |LEFT JOIN removable r ON d.doc_id = r.doc_id
         |LEFT JOIN held hd ON d.doc_id = hd.doc_id
         |GROUP BY d.lang
         |ORDER BY d.lang""".stripMargin
    },
    notes = "gate audit: verify-less 4-band held set scored against the verified LSH removable set, precision/recall in bp per lang")

  val all: Seq[QueryDef] = Seq(dedupMinhashLsh, dedupSimhash, dedupContainment,
    dedupPrefixFilter, dedupSortedNeighborhood, dedupEval, textCdcChunk,
    dedupSubstringSpans, dedupSubstringMerge, textWinnowing, dedupGateEval)
}
