package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, MapType, StringType}
import graft.QueryDef
import graft.Tables.load

/** Training-data pipeline plumbing that every corpus job needs around the
  * dedup/quality/tokenize core: deterministic train/val/test splitting,
  * per-class reservoir sampling, exact quantiles of corpus statistics, and
  * map-typed property access.
  *
  * Determinism doctrine: sampling and splitting NEVER use `rand()` — a
  * multiplicative Knuth hash of the stable document key gives a uniform,
  * reshuffle-proof, engine-reproducible pseudo-random order (the same doc
  * lands in the same split on any cluster size, any engine, any day; adding
  * documents never moves existing ones between splits). `rand(seed)` has
  * neither property — it is partition-layout-dependent.
  */
object PipelineQueries {

  /** Knuth multiplicative hash of a non-negative int key, in [0, 2^32). */
  private def knuth32(key: org.apache.spark.sql.Column) =
    pmod(key * lit(2654435761L), lit(4294967296L))

  /** Deterministic 80/10/10 train/val/test split: bucket = knuth32(id) % 10.
    * One narrow map stage + a 3-group aggregate — no shuffle of the corpus
    * itself at any scale, and the assignment is stable under repartitioning
    * and incremental corpus growth.
    */
  val sampleSplit = QueryDef(
    "sample_split",
    (spark, dir) => {
      val bucket = knuth32(col("doc_id")) % 10
      load(spark, dir, "documents")
        .withColumn("split",
          when(bucket < 8, lit("train"))
            .when(bucket === 8, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast(LongType)).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"))
    },
    Some("""
      SELECT CASE WHEN (doc_id * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
                  WHEN (doc_id * 2654435761) % 4294967296 % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split,
             COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(doc_id) AS min_doc,
             MAX(doc_id) AS max_doc
      FROM documents
      GROUP BY 1
      ORDER BY split"""))

  /** Per-class reservoir sample: the k smallest hash values per language —
    * a deterministic uniform sample of exactly k docs per class. Compiles to
    * WindowGroupLimit (partial per-partition top-k BEFORE the shuffle), so
    * at corpus scale each executor forwards at most k rows per class.
    */
  val samplePerClass = QueryDef(
    "sample_per_class",
    (spark, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      load(spark, dir, "documents")
        .withColumn("h", knuth32(col("doc_id")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("rn").cast(LongType).as("rn"),
          col("doc_id"), col("h"))
        .orderBy(col("lang"), col("rn"))
    },
    Some("""
      SELECT lang, rn, doc_id, h
      FROM (SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 AS h,
                   ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
            FROM documents)
      WHERE rn <= 10
      ORDER BY lang, rn"""))

  /** Exact corpus-statistic quantiles (p50/p90/p99 of document length) per
    * language, via rank-position selection: the value at row ceil(q·n) of
    * the sorted column — exact discrete quantiles with a pinned tie rule
    * (secondary sort on doc_id), unlike approx_percentile (sketch) or
    * engine-native percentile functions (interpolation rules differ).
    * One window + one conditional aggregate; the sort is per-language.
    */
  val quantilesExact = QueryDef(
    "quantiles_exact",
    (spark, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      load(spark, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars").cast(LongType).as("n_chars"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n_docs"),
          max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("n_chars"))).as("p50_chars"),
          max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("n_chars"))).as("p90_chars"),
          max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("n_chars"))).as("p99_chars"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH ranked AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      SELECT lang, MAX(n) AS n_docs,
             MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS p50_chars,
             MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END) AS p90_chars,
             MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END) AS p99_chars
      FROM ranked
      GROUP BY lang
      ORDER BY lang"""))

  /** Map-typed property access: events.props parsed to MAP<STRING,BIGINT>
    * (from_json), then map_keys / element_at / contains — the map-column
    * battery (the JSON-path battery is `events_json`). The DuckDB twin reads
    * the same facts through its JSON functions.
    */
  val mapFuncs = QueryDef(
    "map_funcs",
    (spark, dir) => {
      val m = from_json(col("props"), MapType(StringType, LongType))
      load(spark, dir, "events")
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id"),
          size(map_keys(m)).cast(LongType).as("n_keys"),
          concat_ws(",", array_sort(map_keys(m))).as("keys_csv"),
          element_at(m, "k").as("k_val"),
          element_at(m, "missing").isNotNull.cast("int").as("has_missing"),
          (element_at(m, "k") * 2).as("k_doubled"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
             array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
             CAST(json_extract(props, '$.missing') IS NOT NULL AS INTEGER) AS has_missing,
             CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled
      FROM events
      WHERE event_id % 20 = 0
      ORDER BY event_id"""))

  /** Fixed-width histogram of order values (20 × 25k buckets, clamped top
    * bucket) with counts, exact cent sums, and a running cumulative count —
    * the binning shape behind any length/score distribution dashboard.
    * Bin assignment is pure arithmetic (floor of one IEEE division), so it
    * needs no sampled quantile sketch and is engine-exact; one narrow map +
    * one 20-group aggregate + a 20-row window.
    */
  val histogramPrices = QueryDef(
    "histogram_prices",
    (spark, dir) => {
      val bin = least(floor(col("o_totalprice") / 25000).cast(LongType), lit(19L))
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(spark, dir, "orders")
        .select(bin.as("bin"), col("o_totalprice"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          sum(graft.Tables.cents(col("o_totalprice"))).as("sum_cents"))
        .withColumn("cum_orders", sum(col("n_orders")).over(w))
        .orderBy(col("bin"))
    },
    Some("""
      WITH binned AS (
        SELECT LEAST(CAST(floor(o_totalprice / 25000) AS BIGINT), 19) AS bin,
               o_totalprice
        FROM orders),
      agg AS (
        SELECT bin, COUNT(*) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM binned GROUP BY bin)
      SELECT bin, n_orders, sum_cents,
             CAST(SUM(n_orders) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_orders
      FROM agg ORDER BY bin"""))

  /** End-to-end corpus curation — the composition every training-data run
    * executes: quality gate (token-count band + stopword-ratio cap, as
    * exact integer comparisons) → exact dedup (keep min doc_id per content
    * hash) → deterministic split assignment → per-(split, lang) accounting.
    *
    * Scale shape: quality filtering is a narrow map; dedup is one shuffle
    * on the content hash; split assignment is arithmetic on the kept key;
    * the rollup is one small aggregate. Nothing touches the driver.
    */
  val pipelineCurate = QueryDef(
    "pipeline_curate",
    (spark, dir) => {
      val toks = split(col("text"), " ")
      val quality = load(spark, dir, "documents")
        .withColumn("n_tok", size(toks))
        .withColumn("n_stop", graft.Tables.occurrenceCount(toks,
          Seq("the", "a", "and", "of", "in")))
        .filter(col("n_tok").between(20, 400) &&
          col("n_stop") * 2 < col("n_tok"))
      val kept = quality
        .withColumn("fp", md5(col("text").cast("binary")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val bucket = knuth32(col("doc_id")) % 10
      kept
        .withColumn("split",
          when(bucket < 8, lit("train"))
            .when(bucket === 8, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
        .orderBy(col("split"), col("lang"))
    },
    Some("""
      WITH quality AS (
        SELECT doc_id, text, lang,
               len(string_split(text, ' ')) AS n_tok,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['the', 'a', 'and', 'of', 'in'], t))) AS n_stop
        FROM documents),
      gated AS (
        SELECT * FROM quality
        WHERE n_tok BETWEEN 20 AND 400 AND n_stop * 2 < n_tok),
      kept AS (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM gated)
        WHERE rn = 1),
      split AS (
        SELECT lang, n_tok,
               CASE WHEN (doc_id * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
                    WHEN (doc_id * 2654435761) % 4294967296 % 10 = 8 THEN 'val'
                    ELSE 'test' END AS split
        FROM kept)
      SELECT split, lang, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
      FROM split
      GROUP BY split, lang
      ORDER BY split, lang"""))

  /** End-to-end curation, MODERN composition (r15 verdict ask #4): the
    * production stage order a CCNet/Gopher-era corpus run executes —
    * perplexity-tercile keep (CCNet bigram-LM head+middle, tail dropped) →
    * Gopher rule gate → MinHash near-dup removal (16×4 LSH + signature
    * verify, keep min doc_id) → per-language quota sampling — with
    * first-failing-stage attrition accounting (`pipeline_attrition`'s
    * charging rule, so per-stage drops sum to total attrition).
    *
    * Cross-stage plan discipline (the reason this composition exists as
    * ONE query, not four): the corpus is TOKENIZED ONCE — a single narrow
    * projection computes the token array + every per-doc scalar the four
    * stages need, localCheckpointed so the LM-gram explode, the Gopher
    * predicates, the MinHash signatures, and the verdict rollup all read
    * the same materialized frame instead of re-splitting text four times
    * (at 100 TB the checkpoint becomes a persisted staging table or a
    * recompute — the SHARING is the design point, the medium is local).
    * Stage knobs are fixture-calibrated where the canonical constants
    * would zero a stage (Gopher's 50-token floor vs this corpus' 10–99
    * token docs → 30, `pipeline_attrition`'s floor; budget 10 so the
    * quota stage genuinely binds after the dup-dense corpus' near-dup
    * stage) — the composition, not the constants, is the operator.
    *
    * Scale shape per stage: LM scoring is the `text_ccnet_bucket` plan
    * (broadcast tercile cut table from a score histogram — never a corpus
    * sort); Gopher is row-local arithmetic; near-dup is banded LSH
    * equi-join + fold verify (never all-pairs); quota is one per-lang
    * window over near-dup survivors (the smallest frame in the chain).
    */
  val pipelineCurateV2 = QueryDef(
    "pipeline_curate_v2",
    (spark, dir) => {
      val budget = 10L
      val t = split(col("text"), " ")
      // label each checkpoint's materialization jobs (guide §1.5): a
      // five-checkpoint query is unreadable in job-level profiles otherwise
      def ckpt(df: org.apache.spark.sql.DataFrame, label: String) = {
        spark.sparkContext.setJobDescription(s"curate_v2: $label")
        try df.localCheckpoint()
        finally spark.sparkContext.setJobDescription(null)
      }
      // the ONE tokenization pass, shared by all four stages
      val base = ckpt(graft.Tables.spreadIfNarrow(load(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"), t.as("t"),
          size(t).cast(LongType).as("n_tok"),
          length(regexp_replace(col("text"), " ", "")).cast(LongType)
            .as("n_nonspace")), "base tokenize")
      // stage 1: CCNet bucket — add-one bigram LM trained on the en slice,
      // exact integer -log2 bits (text_ccnet_bucket's scoring verbatim).
      // r17: the bigram explode is the index form (explode(sequence) +
      // element_at, whole-stage codegen) instead of the struct-HOF form
      // (transform(sequence, lambda), which evaluates INTERPRETED via
      // CodegenFallback — measured ~15 task-seconds per pass at sf0.1,
      // ~7 after the rewrite). Deliberately NOT checkpointed even though
      // three subtrees consume it: materializing the 265 k-row gram frame
      // costs ~7 ts to write and ~10-16 ts per consumer to re-read
      // (row-granular cache reads are slower than the codegen recompute
      // from the 5 k-row base checkpoint — measured both ways; the
      // checkpointed variant benched FLAT, the recompute form −16%).
      val grams = base.filter(col("n_tok") >= 2)
        .select(col("doc_id"), col("lang"), col("t"),
          explode(expr("sequence(1, size(t) - 1)")).as("i"))
        .select(col("doc_id"), col("lang"),
          expr("element_at(t, i)").as("a"),
          expr("element_at(t, i + 1)").as("b"))
      val lm = grams.filter(col("lang") === "en")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_pair"))
      val lmA = lm.groupBy(col("a")).agg(sum(col("n_pair")).as("n_a"))
      val vRow = lm.agg(countDistinct(col("b")).as("v"))
      // scored IS checkpointed (contrast grams above): it is doc-keyed
      // and tiny (one row per scoreable doc) while its upstream — the
      // gram recompute plus two corpus-stream joins — is the most
      // expensive chain in the query, and two consumers (the tercile
      // histogram and the gophered join) would each replay it
      val scored = ckpt(grams
        .join(lm, Seq("a", "b"), "left")
        .join(lmA, Seq("a"), "left")
        .crossJoin(broadcast(vRow))
        .select(col("doc_id"), col("lang"),
          (length(bin(expr(
            "(coalesce(n_a, 0L) + v) div (coalesce(n_pair, 0L) + 1L)")))
            - 1).cast(LongType).as("nlp_bits"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_big"), sum(col("nlp_bits")).as("snlp"))
        .select(col("doc_id"), col("lang"),
          expr("(snlp * 100) div n_big").as("score_cb")), "LM score")
      val hist = scored.groupBy(col("lang"), col("score_cb"))
        .agg(count(lit(1)).as("nd"))
      val wOrd = Window.partitionBy(col("lang")).orderBy(col("score_cb"))
      val buckets = hist
        .withColumn("c_lt", coalesce(sum(col("nd")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_lang", sum(col("nd")).over(
          wOrd.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .select(col("lang"), col("score_cb"),
          expr("(c_lt * 3) div n_lang").as("bucket"))
      // stage 2 predicates are row-local — computed for every doc in the
      // same pass that attaches the stage-1 bucket (unscoreable docs,
      // n_tok < 2, take the tail bucket: they cannot clear a perplexity
      // gate they cannot be scored by)
      val gophered = ckpt(base
        .join(scored.join(broadcast(buckets), Seq("lang", "score_cb"))
          .select(col("doc_id"), col("bucket")), Seq("doc_id"), "left")
        .withColumn("bucket", coalesce(col("bucket"), lit(2L)))
        .withColumn("n_alpha",
          size(filter(col("t"), w => w.rlike("[a-z]"))).cast(LongType))
        .withColumn("n_reqstop", size(array_intersect(
          array_distinct(col("t")),
          array(Seq("the", "a", "and", "of", "in", "to").map(lit): _*)))
          .cast(LongType))
        .withColumn("p_gopher",
          lit(3) * col("n_tok") <= col("n_nonspace") &&
            col("n_nonspace") <= lit(10) * col("n_tok") &&
            lit(5) * col("n_alpha") >= lit(4) * col("n_tok") &&
            col("n_reqstop") >= 2 && col("n_tok").between(30, 100000))
        // checkpointed like base: three consumers (near-dup signature
        // build, quota ranking via s2/s3, verdict rollup) would otherwise
        // each replay the scored join + the rlike/intersect predicate HOFs
        .select(col("doc_id"), col("lang"), col("t"), col("n_tok"),
          col("bucket"), col("p_gopher")), "gopher gate")
      // stage 3: MinHash near-dup over stage-2 survivors only — row-local
      // signatures from the SHARED token frame (no re-tokenize), banded
      // candidates, fold verify, removable = has a smaller-id partner
      val s2 = gophered.filter(col("bucket") <= 1 && col("p_gopher"))
      // batch signature form (explode + 64 min-aggs, fully codegen'd)
      // over the SHARED token frame — chosen when the row-local form was
      // interpreted HOFs (measured: 9.2 → see BASELINE); not re-measured
      // against the native minhash_sig kernel.
      // r17: repartition the survivors on doc_id BEFORE the token explode —
      // the gophered checkpoint materializes with the AQE-coalesced
      // partitioning of its join (ONE partition at sf0.1), which made this
      // stage, the heaviest per-row compute in the query, single-threaded
      // (a TimeQuery job line: one 1.4 s single-task job). Exchanging the narrow doc
      // rows pre-explode also REPLACES the post-explode token-stream
      // exchange (HashPartitioning(doc_id) satisfies the signature agg's
      // (doc_id, lang) clustering), so the shuffle moves BEFORE the ×|doc|
      // row multiplication — strictly fewer bytes at any scale.
      val nShuf = spark.sessionState.conf.numShufflePartitions
      val sigs = ckpt(DedupQueries.minhashSignaturesFromToks(
          s2.select(col("doc_id"), col("lang"), col("t"))
            .repartition(nShuf, col("doc_id"))
            .select(col("doc_id"), col("lang"),
              explode(array_distinct(col("t"))).as("tok"))), "minhash sigs")
      // r17: pin the band table's partitioning on the join key (explicit
      // count — REPARTITION_BY_NUM is exempt from AQE coalescing). The
      // band table is tiny by BYTES (16 rows/doc) so AQE coalesced its
      // exchange to ONE partition, but the self-join multiplies it to
      // ~4.3 M candidate rows on this near-dup-dense corpus (plan
      // metrics) — all inside that one task, ~1.2 s serialized. AQE
      // coalesces on input size and cannot see join multiplication; the
      // explicit key-aligned repartition spreads the explosion and is
      // reused by BOTH self-join sides (one exchange total).
      val bands = DedupQueries.bandsFromSig(sigs, DedupQueries.MinhashBands)
        .repartition(nShuf, col("band"), col("bh"), col("lang"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val removable = cand
        .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sa")), "a_id")
        .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")), "b_id")
        .filter(DedupQueries.sigOverlapAtLeast(col("sa"), col("sb"),
          DedupQueries.VerifyMin))
        .select(col("b_id").as("doc_id")).distinct()
        .withColumn("removed", lit(1))
      // stage 4: per-language quota over near-dup survivors (sample_mixture
      // weights; budget sized so the stage binds on THIS corpus)
      val s3 = s2.select(col("doc_id"), col("lang"))
        .join(removable, Seq("doc_id"), "left_anti")
      val wRank = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      val wLang = Window.partitionBy(col("lang"))
      val quotas = s3.withColumn("h", knuth32(col("doc_id")))
        .withColumn("rn", row_number().over(wRank).cast(LongType))
        .withColumn("n_lang", count(lit(1)).over(wLang))
        .withColumn("w_bp", expr(
          """CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 2000
             WHEN 'es' THEN 1500 WHEN 'de' THEN 1500 ELSE 1000 END""")
          .cast(LongType))
        .withColumn("quota",
          least(expr(s"($budget * w_bp) div 10000"), col("n_lang")))
        .select(col("doc_id"), col("rn"), col("quota"))
      // first-failing-stage verdict + the attrition rollup
      gophered.select(col("doc_id"), col("n_tok"), col("bucket"),
          col("p_gopher"))
        .join(removable, Seq("doc_id"), "left")
        .join(quotas, Seq("doc_id"), "left")
        .withColumn("verdict",
          when(col("bucket") > 1, "1_ccnet_tail")
            .when(!col("p_gopher"), "2_gopher")
            .when(col("removed") === 1, "3_neardup")
            .when(col("rn") > col("quota"), "4_quota")
            .otherwise("5_kept"))
        .groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(col("doc_id")).as("doc_id_sum"))
        .orderBy(col("verdict"))
    },
    Some {
      import DedupQueries.{tokHashSql, minColsSql, bandSelectsSql,
        matchTermsSql, VerifyMin, MinhashBands}
      s"""WITH base AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS t,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, lang, t[i] AS a, t[i + 1] AS b
         |  FROM (SELECT doc_id, lang, t,
         |               unnest(generate_series(1, len(t) - 1)) AS i
         |        FROM base WHERE n_tok >= 2)),
         |lm AS (SELECT a, b, COUNT(*) AS n_pair FROM grams
         |       WHERE lang = 'en' GROUP BY a, b),
         |lm_a AS (SELECT a, CAST(SUM(n_pair) AS BIGINT) AS n_a
         |         FROM lm GROUP BY a),
         |v AS (SELECT COUNT(DISTINCT b) AS v FROM lm),
         |scored AS (
         |  SELECT doc_id, lang,
         |         CAST((SUM(length(format('{:b}',
         |                (COALESCE(n_a, 0) + v.v) // (COALESCE(n_pair, 0) + 1)))
         |               - 1) * 100) // COUNT(*) AS BIGINT) AS score_cb
         |  FROM grams LEFT JOIN lm USING (a, b) LEFT JOIN lm_a USING (a)
         |  CROSS JOIN v
         |  GROUP BY doc_id, lang),
         |hist AS (SELECT lang, score_cb, COUNT(*) AS nd
         |         FROM scored GROUP BY lang, score_cb),
         |bkt AS (
         |  SELECT lang, score_cb,
         |         CAST((COALESCE(SUM(nd) OVER (PARTITION BY lang
         |              ORDER BY score_cb
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |            * 3) // (SUM(nd) OVER (PARTITION BY lang)) AS BIGINT)
         |           AS bucket
         |  FROM hist),
         |s1v AS (
         |  SELECT base.doc_id, base.lang, base.n_tok, base.n_nonspace,
         |         base.t, COALESCE(bk.bucket, 2) AS bucket
         |  FROM base
         |  LEFT JOIN scored sc ON base.doc_id = sc.doc_id
         |  LEFT JOIN bkt bk ON sc.lang = bk.lang AND sc.score_cb = bk.score_cb),
         |g AS (
         |  SELECT doc_id, lang, n_tok, t, bucket,
         |         (3 * n_tok <= n_nonspace AND n_nonspace <= 10 * n_tok
         |          AND 5 * CAST(len(list_filter(t,
         |                w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
         |              >= 4 * n_tok
         |          AND CAST(len(list_intersect(list_distinct(t),
         |                ['the','a','and','of','in','to'])) AS BIGINT) >= 2
         |          AND n_tok BETWEEN 30 AND 100000) AS p_gopher
         |  FROM s1v),
         |s2 AS (SELECT doc_id, lang, n_tok, t FROM g
         |       WHERE bucket <= 1 AND p_gopher),
         |toks AS (SELECT doc_id, lang, unnest(list_distinct(t)) AS tok
         |         FROM s2),
         |hashed AS (
         |  SELECT doc_id, lang, ${tokHashSql("tok")} AS h FROM toks),
         |sigs AS (
         |  SELECT doc_id, lang,
         |    $minColsSql
         |  FROM hashed GROUP BY doc_id, lang),
         |bands AS (
         |  ${bandSelectsSql(MinhashBands)}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bh = b.bh AND a.lang = b.lang
         |   AND a.doc_id < b.doc_id),
         |removable AS (
         |  SELECT DISTINCT b_id AS doc_id FROM cand
         |  JOIN sigs sa ON sa.doc_id = a_id
         |  JOIN sigs sb ON sb.doc_id = b_id
         |  WHERE $matchTermsSql >= $VerifyMin),
         |s3 AS (SELECT s2.doc_id, s2.lang FROM s2
         |       WHERE doc_id NOT IN (SELECT doc_id FROM removable)),
         |ranked AS (
         |  SELECT doc_id, lang,
         |         ROW_NUMBER() OVER (PARTITION BY lang
         |           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn,
         |         COUNT(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM s3),
         |q AS (
         |  SELECT doc_id, rn,
         |         least((10 * CAST(CASE lang WHEN 'en' THEN 4000
         |                WHEN 'zh' THEN 2000 WHEN 'es' THEN 1500
         |                WHEN 'de' THEN 1500 ELSE 1000 END AS BIGINT))
         |             // 10000, n_lang) AS quota
         |  FROM ranked),
         |verdicts AS (
         |  SELECT g.doc_id, g.n_tok,
         |         CASE WHEN g.bucket > 1 THEN '1_ccnet_tail'
         |              WHEN NOT g.p_gopher THEN '2_gopher'
         |              WHEN r.doc_id IS NOT NULL THEN '3_neardup'
         |              WHEN q.rn > q.quota THEN '4_quota'
         |              ELSE '5_kept' END AS verdict
         |  FROM g
         |  LEFT JOIN removable r ON g.doc_id = r.doc_id
         |  LEFT JOIN q ON g.doc_id = q.doc_id)
         |SELECT verdict, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
         |FROM verdicts GROUP BY verdict ORDER BY verdict""".stripMargin
    },
    notes = "composed modern curation: CCNet tercile keep -> Gopher gate -> verified MinHash near-dup -> lang-quota sampling, first-failing-stage attrition; one shared tokenization (localCheckpoint), broadcast tercile cuts, banded dedup join")

  /** Incremental ingestion dedup: sources src0–src4 are the "existing
    * corpus"; everything else is the incoming batch. Each incoming document
    * is classified dup-vs-corpus (content hash already present), dup-within-
    * batch (not in corpus, but a lower doc_id in the same batch has the same
    * hash), or new — the decision every nightly corpus append runs.
    *
    * Scale shape: the corpus side reduces to its distinct fingerprint set
    * (tiny vs the corpus itself); classification is one fp-keyed join + one
    * windowed rank within the batch; per-source rollup is a small aggregate.
    * The raw corpus is never rescanned per incoming document.
    */
  val pipelineIncremental = QueryDef(
    "pipeline_incremental",
    (spark, dir) => {
      val corpusSrcs = Seq("src0", "src1", "src2", "src3", "src4")
      val docs = load(spark, dir, "documents")
        .withColumn("fp", md5(col("text").cast("binary")))
      val corpusFp = docs.filter(col("source").isin(corpusSrcs: _*))
        .select(col("fp")).distinct().withColumn("in_corpus", lit(1))
      val inc = docs.filter(!col("source").isin(corpusSrcs: _*))
        .select(col("source"), col("doc_id"), col("fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      inc.join(corpusFp, Seq("fp"), "left")
        .withColumn("rn", row_number().over(w))
        .withColumn("class",
          when(col("in_corpus") === 1, lit("dup_corpus"))
            .when(col("rn") > 1, lit("dup_incoming"))
            .otherwise(lit("new")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_incoming"),
          sum(when(col("class") === "dup_corpus", 1L).otherwise(0L)).as("n_dup_corpus"),
          sum(when(col("class") === "dup_incoming", 1L).otherwise(0L)).as("n_dup_incoming"),
          sum(when(col("class") === "new", 1L).otherwise(0L)).as("n_new"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (SELECT source, doc_id, md5(text) AS fp FROM documents),
      corpus_fp AS (SELECT DISTINCT fp FROM d
                    WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
      inc AS (SELECT source, doc_id, fp FROM d
              WHERE source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')),
      classed AS (
        SELECT source,
               CASE WHEN fp IN (SELECT fp FROM corpus_fp) THEN 'dup_corpus'
                    WHEN ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1
                      THEN 'dup_incoming'
                    ELSE 'new' END AS class
        FROM inc)
      SELECT source, COUNT(*) AS n_incoming,
             CAST(SUM(CASE WHEN class = 'dup_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
             CAST(SUM(CASE WHEN class = 'dup_incoming' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_incoming,
             CAST(SUM(CASE WHEN class = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM classed
      GROUP BY source
      ORDER BY source"""))

  /** Sequence packing: concatenate documents (per language, in stable
    * doc_id order) into ~512-token training batches — batch id is the
    * 512-bucket of each document's running start offset, i.e. contiguous
    * greedy packing as one window cumsum + integer division. No state, no
    * driver loop, scales as a single partitioned window. (True first-fit
    * bin packing is inherently sequential; offset-bucket packing is the
    * standard distributed approximation — a document spanning a boundary
    * overflows its batch rather than splitting.)
    */
  val pipelinePack = QueryDef(
    "pipeline_pack",
    (spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      load(spark, dir, "documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("batch", expr("(cum - n_tok) DIV 512"))
        .groupBy(col("lang"), col("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("batch_tokens"))
        .orderBy(col("lang"), col("batch"))
    },
    Some("""
      WITH d AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      c AS (
        SELECT lang, doc_id, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d)
      SELECT lang, CAST((cum - n_tok) // 512 AS BIGINT) AS batch,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS batch_tokens
      FROM c
      GROUP BY lang, (cum - n_tok) // 512
      ORDER BY lang, batch"""))

  /** Benchmark decontamination: for every held-out document (source src19),
    * what fraction of its 5-gram shingles appears ANYWHERE in the training
    * split (all other sources)? The train/test-overlap check every serious
    * LLM data pipeline runs before training (the 13-gram variant of GPT-3's
    * dedup). Shingles come from the native [[graft.functions.NGrams]]
    * generator — lazy emission, no per-doc shingle arrays; the train side
    * reduces to its DISTINCT shingle set once (at real scale: a bucketed
    * table reused across eval sets), and the overlap is one shuffle join on
    * the shingle, never document×document.
    */
  val pipelineDecontaminate = QueryDef(
    "pipeline_decontaminate",
    (spark, dir) => {
      import graft.functions.NGrams
      val docs = load(spark, dir, "documents")
      val trainSh = docs.filter(col("source") =!= "src19")
        .select(NGrams(col("text"), 5).as("sh"))
        .distinct().withColumn("hit", lit(1))
      val testSh = docs.filter(col("source") === "src19")
        .select(col("doc_id"), NGrams(col("text"), 5).as("sh"))
      testSh.join(trainSh, Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
        .withColumn("contamination_bp",
          expr("(n_contaminated * 10000) DIV n_shingles"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS sh
        FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 5),
      train AS (SELECT DISTINCT sh FROM sh WHERE source <> 'src19'),
      test AS (SELECT doc_id, sh FROM sh WHERE source = 'src19')
      SELECT doc_id, COUNT(*) AS n_shingles,
             COUNT(*) FILTER (WHERE sh IN (SELECT sh FROM train)) AS n_contaminated,
             (COUNT(*) FILTER (WHERE sh IN (SELECT sh FROM train)) * 10000)
               // COUNT(*) AS contamination_bp
      FROM test
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** SEMANTIC benchmark decontamination — the paraphrase-leakage analogue
    * of [[pipelineDecontaminate]]: the n-gram check catches verbatim
    * benchmark copies, but a reworded eval question shares no 5-gram with
    * its source while its EMBEDDING stays near-identical, so the check a
    * real training-data user runs next is embedding-side. Held-out
    * benchmark slice = `vec_id % 20 == 0` (the fixture stand-in for an
    * external eval-suite table — in production the small side by
    * construction: eval sets are thousands of rows against a corpus of
    * billions); train = the rest. Both sides band through the engine's
    * one sign-LSH rule ([[VectorQueries.embBandRowsOf]], width auto-sized
    * from the corpus count so query and oracle derive the same geometry),
    * candidates = same (band, value) ACROSS the sides, verified by exact
    * cosine ≥ 1000 bp — the same verified-pair rule as
    * `dedup_embedding_lsh`, so the oracle reuses the shared `vf` CTE
    * verbatim and contamination is exactly "verified near-dup pair that
    * straddles the benchmark boundary".
    *
    * Scale shape: the benchmark side rides an explicit broadcast (band
    * keys + vectors — benchmark-sized, not corpus-sized), the train side
    * streams through the join with its vectors in-stream, the cosine
    * verify filters in the SAME stage (the engine-wide
    * verify-then-distinct discipline: the candidate×vector intermediate
    * is never exchanged), and the only distinct is the contaminated
    * train-id set, bounded by the corpus. Per-label accounting à la
    * `pipeline_split_leakfree`'s `n_moved`: `n_contam` counts the train
    * docs the check would pull before training.
    */
  val pipelineDecontaminateSem = QueryDef(
    "pipeline_decontaminate_sem",
    (spark, dir) => {
      import graft.functions.VectorFunctions.{cosine, toDoubleArray}
      val e = load(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          toDoubleArray(col("embedding")).as("v"))
      // literal bits shape the plan (signature expression + band split),
      // the dedup_embedding_lsh discipline; count is metadata-only
      val bits = VectorQueries.autoEmbBits(e.count())
      val bands = VectorQueries.embBandRowsOf(
        e.select(col("vec_id"), col("v")), bits,
        VectorQueries.EmbBands, carryV = true)
      val bench = bands.filter(col("vec_id") % 20 === 0)
        .select(col("band"), col("bv"),
          col("vec_id").as("bm_id"), col("v").as("bm_v"))
      val contam = bands.filter(col("vec_id") % 20 =!= 0)
        .join(broadcast(bench), Seq("band", "bv"))
        .filter(graft.Tables.basisPoints(
          cosine(col("v"), col("bm_v"))) >= 1000)
        .select(col("vec_id")).distinct()
        .withColumn("hit", lit(1))
      e.filter(col("vec_id") % 20 =!= 0)
        .select(col("vec_id"), col("label"))
        .join(contam, Seq("vec_id"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("hit") === 1, lit(1L)).otherwise(lit(0L)))
            .as("n_contam"),
          sum(when(col("hit") === 1, col("vec_id")).otherwise(lit(0L)))
            .as("contam_id_sum"))
        .orderBy(col("label"))
    },
    // oracle: the SHARED verified-pair chain (vf — stated once per
    // engine, dedup_embedding_lsh's CTEs), restricted to pairs that
    // straddle the benchmark boundary. Set-equal to the asymmetric
    // banded join: band candidacy and the cosine verify are symmetric,
    // and the sides are disjoint, so each straddling unordered pair
    // appears exactly once on each side.
    Some(s"""
      WITH ${VectorQueries.duckEmbPairsCtes},
      contam AS (
        SELECT b_id AS vec_id FROM vf WHERE a_id % 20 = 0 AND b_id % 20 <> 0
        UNION
        SELECT a_id AS vec_id FROM vf WHERE b_id % 20 = 0 AND a_id % 20 <> 0)
      SELECT label, COUNT(*) AS n_train,
             CAST(SUM(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contam,
             CAST(SUM(CASE WHEN c.vec_id IS NOT NULL THEN emb.vec_id
               ELSE 0 END) AS BIGINT) AS contam_id_sum
      FROM embeddings emb LEFT JOIN contam c ON emb.vec_id = c.vec_id
      WHERE emb.vec_id % 20 <> 0
      GROUP BY label
      ORDER BY label"""),
    notes = "embedding-side benchmark decontamination (paraphrase leakage the n-gram check misses): benchmark slice broadcast with vectors, banded candidates verified by exact cosine in-stream, per-label contaminated-train accounting; oracle reuses the shared vf pair CTE restricted to boundary-straddling pairs")

  /** Repetition filter (the C4/RefinedWeb doc-internal quality heuristic):
    * a document whose trigrams repeat heavily is boilerplate or spam.
    * distinct/total trigram ratio in exact basis points, per held-out-size
    * doc subset — one Generate + two counts per doc, no joins.
    */
  val textRepetition = QueryDef(
    "text_repetition",
    (spark, dir) => {
      import graft.functions.NGrams
      load(spark, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), NGrams(col("text"), 3).as("tg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_trigrams"),
          countDistinct(col("tg")).as("n_distinct"))
        .withColumn("distinct_bp", expr("(n_distinct * 10000) DIV n_trigrams"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH tg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
              WHERE doc_id % 10 = 0)
        WHERE len(t) >= 3)
      SELECT doc_id, COUNT(*) AS n_trigrams,
             COUNT(DISTINCT tg) AS n_distinct,
             (COUNT(DISTINCT tg) * 10000) // COUNT(*) AS distinct_bp
      FROM tg
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** PII redaction — the scrub step every shareable corpus needs: replace
    * numeric literals in the raw property payload with a placeholder, mask
    * the user identifier to a length-preserving token, and count redacted
    * digits (the audit metric: how much redaction happened). Pure narrow
    * map over codegen'd regexp/string functions — no shuffle, scales
    * linearly. DuckDB's regexp_replace is first-match-only without the 'g'
    * flag (the cross-engine trap), stated explicitly in the oracle.
    */
  val pipelineRedact = QueryDef(
    "pipeline_redact",
    (spark, dir) => {
      load(spark, dir, "events")
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("props_redacted"),
          expr("concat('u', repeat('*', length(cast(user_id AS string))))")
            .as("user_masked"),
          regexp_count(col("props"), lit("[0-9]")).cast(LongType).as("n_digits"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted,
             'u' || repeat('*', length(CAST(user_id AS VARCHAR))) AS user_masked,
             CAST(len(regexp_extract_all(props, '[0-9]')) AS BIGINT) AS n_digits
      FROM events
      WHERE event_id % 20 = 0
      ORDER BY event_id"""))

  /** Temperature resampling of the source mix (the data-mixture step of LLM
    * corpus assembly, α=0.5): per-source quota ∝ √count, rebalancing
    * head-heavy sources toward the tail, with selection by the same
    * reshuffle-proof Knuth-hash order as every sampler here. The quota table
    * is one row per source — broadcast; the corpus never shuffles beyond
    * the per-source rank window. kept_doc_sum pins the exact selected SET,
    * not just its size (√ and ×4 are IEEE-exact, so the quota is
    * bit-identical cross-engine).
    */
  val sampleTemperature = QueryDef(
    "sample_temperature",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      val ranked = docs.withColumn("h", knuth32(col("doc_id")))
        .withColumn("rn", row_number().over(w).cast(LongType))
      val quotas = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_orig"))
        .withColumn("quota",
          ceil(sqrt(col("n_orig").cast("double")) * 4).cast(LongType))
      ranked.join(broadcast(quotas), "source")
        .filter(col("rn") <= col("quota"))
        .groupBy(col("source"))
        .agg(max(col("n_orig")).as("n_orig"), max(col("quota")).as("quota"),
          count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_doc_sum"))
        .orderBy(col("source"))
    },
    Some("""
      WITH ranked AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_orig
        FROM documents),
      q AS (
        SELECT *, CAST(ceil(sqrt(CAST(n_orig AS DOUBLE)) * 4) AS BIGINT) AS quota
        FROM ranked)
      SELECT source, CAST(MAX(n_orig) AS BIGINT) AS n_orig,
             CAST(MAX(quota) AS BIGINT) AS quota,
             COUNT(*) AS n_kept,
             CAST(SUM(doc_id) AS BIGINT) AS kept_doc_sum
      FROM q
      WHERE rn <= quota
      GROUP BY source
      ORDER BY source"""))

  /** Explicit target-mixture sampling — the complement of
    * [[sampleTemperature]]'s √count heuristic: the training recipe PINS the
    * language mix (basis-point weights summing to 10000) and each language's
    * quota is `budget · w_bp DIV 10000`, capped at availability (a language
    * short of its quota under-fills rather than silently re-weighting —
    * the shortfall is reported, the recipe owner decides). Selection inside
    * each language is the same reshuffle-proof Knuth-hash order as every
    * sampler here, so the chosen SET (pinned by kept_doc_sum) is stable
    * under repartitioning and corpus append.
    *
    * Scale shape: quota table is one row per language (broadcast); the
    * corpus pays one rank window per language partition and never shuffles
    * beyond it.
    */
  val sampleMixture = QueryDef(
    "sample_mixture",
    (spark, dir) => {
      val budget = 300L
      val wBp = expr(
        """CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 2000
           WHEN 'es' THEN 1500 WHEN 'de' THEN 1500 ELSE 1000 END""")
      val docs = load(spark, dir, "documents")
      val quotas = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_orig"))
        .withColumn("w_bp", wBp.cast(LongType))
        .withColumn("quota",
          least(expr(s"($budget * w_bp) div 10000"), col("n_orig")))
      val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      docs.withColumn("h", knuth32(col("doc_id")))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .join(broadcast(quotas), "lang")
        .filter(col("rn") <= col("quota"))
        .groupBy(col("lang"))
        .agg(max(col("n_orig")).as("n_orig"), max(col("w_bp")).as("w_bp"),
          max(col("quota")).as("quota"), count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_doc_sum"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH ranked AS (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n_orig
        FROM documents),
      q AS (
        SELECT *,
               CAST(CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 2000
                    WHEN 'es' THEN 1500 WHEN 'de' THEN 1500 ELSE 1000 END
                 AS BIGINT) AS w_bp
        FROM ranked),
      q2 AS (
        SELECT *, least((300 * w_bp) // 10000, n_orig) AS quota FROM q)
      SELECT lang, CAST(MAX(n_orig) AS BIGINT) AS n_orig,
             CAST(MAX(w_bp) AS BIGINT) AS w_bp,
             CAST(MAX(quota) AS BIGINT) AS quota,
             COUNT(*) AS n_kept,
             CAST(SUM(doc_id) AS BIGINT) AS kept_doc_sum
      FROM q2
      WHERE rn <= quota
      GROUP BY lang
      ORDER BY lang"""),
    notes = "pinned language-mixture quotas (bp weights), Knuth-hash selection")

  /** Sequential filter-chain ATTRITION audit — the per-rule accounting every
    * curation pipeline publishes beside its output ("N in → dropped X by
    * length, Y by repetition, Z by stopword-profile → M out"). Each document
    * is charged to its FIRST failing rule (the chain short-circuits, so
    * downstream rules never see it — that is what makes per-rule counts sum
    * to the total drop). One narrow map computes the verdict; the audit is
    * a |rules|-row aggregate — no shuffle of the corpus at any scale.
    * Thresholds are the `text_quality` ones, recast as an ordered gate.
    */
  val pipelineAttrition = QueryDef(
    "pipeline_attrition",
    (spark, dir) => {
      val toks = split(col("text"), " ")
      val stop = Seq("the", "a", "and", "of", "in")
      val verdict = load(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast(LongType).as("n_tok"),
          size(array_distinct(toks)).cast(LongType).as("n_dis"),
          graft.Tables.occurrenceCount(toks, stop).cast(LongType).as("n_stop"))
        .withColumn("dis_bp", floor(col("n_dis") * 10000 / col("n_tok")).cast(LongType))
        .withColumn("stop_bp", floor(col("n_stop") * 10000 / col("n_tok")).cast(LongType))
        .withColumn("verdict",
          when(col("n_tok") < 30, "1_short")
            .when(col("dis_bp") < 2500, "2_repetitive")
            .when(col("stop_bp") < 200 || col("stop_bp") > 2500, "3_stop_profile")
            .otherwise("4_kept"))
      verdict.groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(col("doc_id")).as("doc_id_sum"))
        .orderBy(col("verdict"))
    },
    Some("""
      WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis,
               CAST(len(list_filter(string_split(text, ' '),
                 t -> list_contains(['the','a','and','of','in'], t))) AS BIGINT) AS n_stop
        FROM documents),
      v AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok < 30 THEN '1_short'
                    WHEN CAST(floor(n_dis * 10000 / n_tok) AS BIGINT) < 2500
                      THEN '2_repetitive'
                    WHEN CAST(floor(n_stop * 10000 / n_tok) AS BIGINT) < 200
                      OR CAST(floor(n_stop * 10000 / n_tok) AS BIGINT) > 2500
                      THEN '3_stop_profile'
                    ELSE '4_kept' END AS verdict
        FROM scored)
      SELECT verdict, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
      FROM v
      GROUP BY verdict
      ORDER BY verdict"""),
    notes = "first-failing-rule attrition accounting; rules from text_quality as an ordered gate")

  /** Balanced shard assignment for corpus writing: 32 output shards whose
    * byte totals must be near-equal (straggler shards = straggler training
    * steps). The assignment is serpentine sorted round-robin — docs ranked
    * by size desc, shard s(rk) snaking 0..31, 31..0 per pass, so each pass
    * hands every shard one doc and alternating direction cancels the
    * within-pass size gradient. The global ROW_NUMBER that makes this
    * deterministic is NOT one global sort: sizes are range-bucketed, the
    * row_number runs partitioned per bucket, and each bucket's rank offset
    * is the count of all larger buckets — a tiny descending cumsum
    * broadcast back (the `interval_sweep` two-phase split). Everything is
    * nonnegative integer arithmetic, so trunc/floor agree and the 32-row
    * result hash-matches the oracle's single-window formulation.
    */
  val pipelineShardBalance = QueryDef(
    "pipeline_shard_balance",
    (spark, dir) => {
      val d = load(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("bkt", expr("n_chars div 200"))
      val offsets = d.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
        .withColumn("offset",
          coalesce(sum(col("cnt")).over(Window.orderBy(col("bkt").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bkt").as("b"), col("offset"))
      val ranked = d
        .withColumn("within", row_number().over(Window.partitionBy(col("bkt"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
        .join(broadcast(offsets), col("bkt") === col("b"))
        .withColumn("rk", col("offset") + col("within") - 1)
      ranked
        .withColumn("shard",
          when(expr("(rk div 32) % 2") === 0, expr("rk % 32"))
            .otherwise(lit(31) - expr("rk % 32")))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"))
        .orderBy(col("shard"))
    },
    Some("""
      WITH r AS (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
        FROM documents),
      s AS (
        SELECT n_chars,
               CASE WHEN (rk // 32) % 2 = 0 THEN rk % 32
                    ELSE 31 - (rk % 32) END AS shard
        FROM r)
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars_total
      FROM s GROUP BY 1 ORDER BY 1"""),
    notes = "serpentine size-balanced sharding; two-phase distributed row_number, no global sort")

  /** Weighted quantiles over a BOUNDED value domain — the scale-safe shape.
    *
    * Weighted median/quartiles of order quantity, weighted by revenue
    * cents, per return flag. The fact table first collapses to a
    * (flag, quantity) histogram (quantity has ≤50 distinct values, so the
    * histogram is ≤150 rows at ANY scale factor — the cumulative window
    * that follows never grows with data volume, same doctrine as the
    * events_anomaly_mad histogram-median rewrite). Quantile rule: smallest
    * value whose cumulative weight reaches p% of total, compared as
    * 100·cumw ≥ p·totw in exact BIGINTs — no percent division, no floats.
    */
  val quantilesWeighted = QueryDef(
    "quantiles_weighted",
    (spark, dir) => {
      val h = load(spark, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("q"))
        .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
          .as("w"))
      val cumW = Window.partitionBy(col("flag")).orderBy(col("q"))
      val totW = Window.partitionBy(col("flag"))
      h.withColumn("cw", sum(col("w")).over(cumW))
        .withColumn("tw", sum(col("w")).over(totW))
        .groupBy(col("flag"))
        .agg(
          min(when(col("cw") * 100 >= col("tw") * 25, col("q"))).as("wq25"),
          min(when(col("cw") * 100 >= col("tw") * 50, col("q"))).as("wq50"),
          min(when(col("cw") * 100 >= col("tw") * 75, col("q"))).as("wq75"))
        .orderBy(col("flag"))
    },
    Some("""
      WITH h AS (
        SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
               SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS w
        FROM lineitem GROUP BY 1, 2),
      c AS (
        SELECT flag, q,
               SUM(w) OVER (PARTITION BY flag ORDER BY q) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tw
        FROM h)
      SELECT flag,
             MIN(CASE WHEN cw * 100 >= tw * 25 THEN q END) AS wq25,
             MIN(CASE WHEN cw * 100 >= tw * 50 THEN q END) AS wq50,
             MIN(CASE WHEN cw * 100 >= tw * 75 THEN q END) AS wq75
      FROM c GROUP BY flag ORDER BY flag"""),
    notes = "weighted quartiles on the bounded (flag,quantity) histogram; 100*cumw >= p*totw integer rule")

  /** Dataset card: the one-page manifest a corpus release ships with —
    * per source: document count, total characters, language spread, exact
    * duplicate volume, and length extremes. Two aggregations, both keyed on
    * source (the dup scan groups on (source, text) first — at 100 TB that
    * is the same hash-shuffle a dedup pass already does, and the card rides
    * it rather than re-scanning). All counts exact BIGINTs.
    */
  val pipelineDatasetCard = QueryDef(
    "pipeline_dataset_card",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
      val base = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
      val dups = docs.groupBy(col("source"), col("text"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("n_dup_docs"))
      base.join(dups, Seq("source"))
        .select(col("source"), col("n_docs"), col("sum_chars"),
          col("n_langs"), col("n_dup_docs"), col("min_chars"), col("max_chars"))
        .orderBy(col("source"))
    },
    Some("""
      WITH base AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY source),
      dups AS (
        SELECT source,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                 AS n_dup_docs
        FROM (SELECT source, text, COUNT(*) AS c
              FROM documents GROUP BY source, text)
        GROUP BY source)
      SELECT base.source, n_docs, sum_chars, n_langs, n_dup_docs,
             min_chars, max_chars
      FROM base JOIN dups ON base.source = dups.source
      ORDER BY base.source"""),
    notes = "per-source corpus manifest: counts/chars/langs/exact-dup volume in two keyed aggs")

  /** Multi-epoch oversampling — the "how many passes over each source"
    * half of a training mix (sample_mixture decides proportions within one
    * pass; this materializes repeated passes). Per-source epoch factors in
    * hundredths (src00–02: 2.50 epochs, src03–07: 1.50, rest: 1.00): every
    * document contributes floor(factor) full copies, plus one fractional
    * copy kept iff a per-(doc, epoch) Knuth hash lands under the remainder
    * — deterministic, reshuffle-proof, and per-epoch decorrelated (the
    * epoch index salts the hash, so the 0.5-epoch subset of epoch 3 is not
    * the 0.5-epoch subset every other fractional pass would pick).
    *
    * Scale posture: expansion is a lazy generator explode in the map stage
    * — zero shuffle until the final per-source rollup; a 100 TB corpus at
    * 2.5 epochs streams 2.5× rows through the SAME scan, never a copy on
    * disk.
    */
  val sampleEpochs = QueryDef(
    "sample_epochs",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
        .withColumn("ex100", expr(
          """CASE WHEN CAST(substring(source, 4, 2) AS INT) < 3 THEN 250L
                  WHEN CAST(substring(source, 4, 2) AS INT) < 8 THEN 150L
                  ELSE 100L END"""))
      docs
        .select(col("source"), col("doc_id"), col("n_chars"), col("ex100"),
          explode(expr("sequence(1L, (ex100 + 99L) div 100L)")).as("epoch"))
        .filter(col("epoch") <= expr("ex100 div 100L") ||
          pmod((col("doc_id") * 37 + col("epoch")) * lit(2654435761L),
            lit(4294967296L)).mod(100) < col("ex100").mod(100))
        .groupBy(col("source"))
        .agg(max(col("ex100")).as("epochs_x100"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("chars_expanded"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT source, doc_id, n_chars,
               CASE WHEN CAST(substr(source, 4, 2) AS INT) < 3 THEN 250
                    WHEN CAST(substr(source, 4, 2) AS INT) < 8 THEN 150
                    ELSE 100 END AS ex100
        FROM documents),
      x AS (
        SELECT source, doc_id, n_chars, ex100, CAST(t.e AS BIGINT) AS epoch
        FROM d, UNNEST(range(1, (ex100 + 99) // 100 + 1)) AS t(e)),
      kept AS (
        SELECT * FROM x
        WHERE epoch <= ex100 // 100
           OR ((doc_id * 37 + epoch) * 2654435761) % 4294967296 % 100
              < ex100 % 100)
      SELECT source, CAST(MAX(ex100) AS BIGINT) AS epochs_x100,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             COUNT(*) AS n_rows,
             CAST(SUM(n_chars) AS BIGINT) AS chars_expanded
      FROM kept GROUP BY source ORDER BY source"""),
    notes = "epoch-expansion by lazy generator + salted fractional pass; zero shuffle before the rollup")

  /** NEYMAN-ALLOCATION stratified sampling: the statistically optimal
    * per-stratum budget split n_h ∝ N_h·σ_h (high-variance strata get more
    * of the budget than size-proportional allocation would give them — the
    * variance-minimizing design for estimating a mean from a fixed sample
    * budget). Kept integer-exact end to end via the identity
    * N·σ = √(N·ΣX² − (ΣX)²): the weight is one floor(sqrt) over exact
    * BIGINT moments (sqrt is IEEE correctly-rounded in both engines, so
    * floor of it is deterministic), allocation is truncating integer
    * division of the budget, and row selection is the repo's rand()-free
    * Knuth-hash ranking — re-runs pick the identical sample.
    *
    * Scale: two aggregates over the fact (one for moments, one broadcast
    * 1-row weight total), then a per-stratum top-n_h window. The same
    * shape allocates a 10M-doc labeling budget across sources at 100 TB.
    */
  val sampleStratified = QueryDef(
    "sample_stratified",
    (spark, dir) => {
      import graft.Tables.cents
      val nTarget = 1000L
      val ev = load(spark, dir, "events")
        .select(col("event_type"), col("event_id"),
          cents(col("value")).as("vc"))
      val strata = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pop"), sum(col("vc")).as("s1"),
          sum(col("vc") * col("vc")).as("s2"))
        .withColumn("weight",
          floor(sqrt((col("n_pop") * col("s2") - col("s1") * col("s1"))
            .cast("double"))).cast(LongType))
      val tot = strata.agg(sum(col("weight")).as("w_tot"))
      val alloc = strata.crossJoin(broadcast(tot))
        .withColumn("n_alloc",
          least(expr(s"($nTarget * weight) div w_tot"), col("n_pop")))
        .select(col("event_type"), col("n_pop"), col("weight"),
          col("n_alloc"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("h"), col("event_id"))
      ev.withColumn("h", knuth32(col("event_id")))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .join(broadcast(alloc), "event_type")
        .filter(col("rn") <= col("n_alloc"))
        .groupBy(col("event_type"))
        .agg(max(col("n_pop")).as("n_pop"), max(col("weight")).as("weight"),
          max(col("n_alloc")).as("n_alloc"), count(lit(1)).as("n_kept"),
          sum(col("event_id")).as("kept_id_sum"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        FROM events),
      strata AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pop,
               CAST(SUM(vc) AS BIGINT) AS s1,
               CAST(SUM(vc * vc) AS BIGINT) AS s2
        FROM ev GROUP BY event_type),
      sw AS (
        SELECT *, CAST(floor(sqrt(CAST(n_pop * s2 - s1 * s1 AS DOUBLE)))
                 AS BIGINT) AS weight
        FROM strata),
      tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS w_tot FROM sw),
      alloc AS (
        SELECT event_type, n_pop, weight,
               least((1000 * weight) // w_tot, n_pop) AS n_alloc
        FROM sw, tot),
      ranked AS (
        SELECT event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY (event_id * 2654435761) % 4294967296, event_id)
                 AS rn
        FROM ev)
      SELECT ranked.event_type, MAX(n_pop) AS n_pop, MAX(weight) AS weight,
             CAST(MAX(n_alloc) AS BIGINT) AS n_alloc,
             COUNT(*) AS n_kept,
             CAST(SUM(event_id) AS BIGINT) AS kept_id_sum
      FROM ranked JOIN alloc USING (event_type)
      WHERE rn <= n_alloc
      GROUP BY ranked.event_type
      ORDER BY ranked.event_type"""),
    notes = "Neyman n_h ~ N_h*sigma_h via exact integer moments; deterministic Knuth-hash selection")

  /** k-anonymity / l-diversity audit — the privacy gate a training-data
    * release runs before shipping records keyed by quasi-identifiers. The
    * quasi-identifier grid is (nation, market segment, account-balance
    * band); the sensitive attribute is the last digit of the balance in
    * cents (a 10-value stand-in — the driver's customer table carries no
    * phone/address column). Pass
    * 1 sizes every equivalence class and counts its distinct sensitive
    * values (one hash aggregate over the grid — O(classes) output however
    * large the input); pass 2 rolls the audit up per segment: classes below
    * k=5, records those classes expose (the re-identification risk mass),
    * the minimum class size, and classes failing l-diversity (<2 distinct
    * sensitive values — every member's sensitive value is revealed even
    * when the class is k-large). Both engines' % keeps the dividend's sign,
    * so negative balances map to negative digits identically on both sides.
    *
    * Scale shape: both aggregates are partial-aggregatable hash aggs; the
    * second input is O(classes), so the whole audit is one shuffle of the
    * narrow quasi-identifier projection. countDistinct(cc) rewrites to a
    * two-phase expand+agg, still map-side combinable on (class, cc).
    */
  val pipelineKanonymity = QueryDef(
    "pipeline_kanonymity",
    (spark, dir) => {
      val k = 5
      val classes = load(spark, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast(LongType).as("bal_band"),
          (graft.Tables.cents(col("c_acctbal")) % 10).as("cc"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("cc")).as("l_div"))
      classes.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("class_size") < k, 1L).otherwise(0L))
            .as("classes_below_k"),
          sum(when(col("class_size") < k, col("class_size")).otherwise(lit(0L)))
            .as("records_at_risk"),
          min(col("class_size")).as("min_class_size"),
          sum(when(col("l_div") < 2, 1L).otherwise(0L)).as("classes_below_l2"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(*) AS class_size,
               COUNT(DISTINCT (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) % 10))
                 AS l_div
        FROM customer
        GROUP BY c_nationkey, c_mktsegment, bal_band)
      SELECT c_mktsegment, COUNT(*) AS n_classes,
             CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_k,
             CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
               AS BIGINT) AS records_at_risk,
             MIN(class_size) AS min_class_size,
             CAST(SUM(CASE WHEN l_div < 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_l2
      FROM classes
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""),
    notes = "k-anonymity class sizing + l-diversity, rolled up per segment; k=5, l=2")

  /** URL/host-canonicalization dedup — the CommonCrawl-style curation stage
    * before content dedup: raw crawl URLs differ in scheme/host case,
    * `www.` prefixes, trailing slashes, `/index.html` suffixes, tracking
    * params (`utm_*`), and query-param order while naming the SAME page.
    * Canonicalize (builtin `parse_url` + regex + array HOFs, no UDF), exact-
    * dedup on the canonical URL (keeper = min doc_id), roll up per host, and
    * apply a per-domain quota — keep ≤10 pages per host, picked by the same
    * reshuffle-proof Knuth-hash order the split/mixture machinery uses, so
    * one giant domain cannot dominate the training mix.
    *
    * The fixture has no URL column, so raw URLs are derived deterministically
    * from (doc_id, source) with every noise class above injected — both
    * engines derive the identical synthetic crawl, so the oracle checks the
    * full canonicalize→dedup→quota pipeline bit-exactly.
    *
    * Scale shape: one shuffle on canonical_url (unavoidable for exact URL
    * dedup; key is ~60 B), then per-host work over the already-deduped page
    * frame. The rn≤10 filter over the rank window compiles to
    * WindowGroupLimit, which caps each host's candidates map-side BEFORE the
    * host shuffle — a billion-page domain ships ~10 rows per input
    * partition, not a single-partition window. Host stats are a second small
    * aggregate broadcast back onto the quota survivors.
    */
  val pipelineUrlDedup = QueryDef(
    "pipeline_url_dedup",
    (spark, dir) => {
      val hostCore = concat(col("source"), lit(".example.com"))
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("HTTPS")),
        lit("://"),
        when(col("doc_id") % 3 === 0, concat(lit("WWW."), hostCore))
          .when(col("doc_id") % 3 === 1, upper(hostCore))
          .otherwise(hostCore),
        lit("/p"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 5 === 0, lit("/"))
          .when(col("doc_id") % 5 === 1, lit("/index.html"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
            concat(lit("?utm_source=feed&ref=r"), (col("doc_id") % 3).cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("?ref=r"), (col("doc_id") % 3).cast("string"), lit("&utm_campaign=x")))
          .when(col("doc_id") % 4 === 2, lit("?b=2&a=1"))
          .otherwise(lit("")))
      // spreadIfNarrow: parse_url×3 + regex + array HOFs per row is
      // row-local-heavy work that would otherwise run in the fixture's
      // single scan task (2.7 s single-threaded at sf0.1 in the shuffle
      // audit); no-op on a real multi-split cluster scan
      val withUrl = graft.Tables.spreadIfNarrow(
        load(spark, dir, "documents").select(col("doc_id"), col("source")))
        .select(col("doc_id"), url.as("url"))
      val host = regexp_replace(
        lower(parse_url(col("url"), lit("HOST"))), "^www\\.", "")
      val pathC = regexp_replace(regexp_replace(
        parse_url(col("url"), lit("PATH")), "/index\\.html$", ""), "/$", "")
      val paramsC = array_join(array_sort(filter(
        split(coalesce(parse_url(col("url"), lit("QUERY")), lit("")), "&"),
        x => x =!= "" && not(x.like("utm_%")))), "&")
      val canonical = concat(host, pathC,
        when(paramsC =!= "", concat(lit("?"), paramsC)).otherwise(lit("")))
      // localCheckpoint: both consumers below (host stats + quota window)
      // need the full deduped page frame, but column pruning specializes
      // each branch's partial aggregate (the stats branch drops min(doc_id))
      // so AQE exchange reuse can NEVER match them — without materialization
      // the raw corpus would be scanned and shuffled twice. The checkpoint
      // stores only the post-dedup pages (unique URLs × 4 small columns),
      // a fraction of corpus bytes at any scale.
      val pages = withUrl
        .select(col("doc_id"), host.as("host"), canonical.as("canonical_url"))
        .groupBy(col("host"), col("canonical_url"))
        .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_dups"))
        .localCheckpoint()
      val hostStats = pages.groupBy(col("host"))
        .agg(count(lit(1)).as("n_pages"), sum(col("n_dups")).as("n_raw"))
      pages
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("host"))
            .orderBy(knuth32(col("keeper_doc_id")), col("canonical_url"))))
        .filter(col("rnk") <= 10)
        .join(broadcast(hostStats), Seq("host"))
        .select(col("host"), col("rnk"), col("canonical_url"),
          col("keeper_doc_id"), col("n_dups"), col("n_pages"), col("n_raw"))
        .orderBy(col("host"), col("rnk"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END || '://' ||
               CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || source || '.example.com'
                    WHEN doc_id % 3 = 1 THEN upper(source || '.example.com')
                    ELSE source || '.example.com' END ||
               '/p' || CAST(doc_id % 40 AS VARCHAR) ||
               CASE WHEN doc_id % 5 = 0 THEN '/'
                    WHEN doc_id % 5 = 1 THEN '/index.html' ELSE '' END ||
               CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&ref=r' || CAST(doc_id % 3 AS VARCHAR)
                    WHEN doc_id % 4 = 1 THEN '?ref=r' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'
                    WHEN doc_id % 4 = 2 THEN '?b=2&a=1' ELSE '' END AS url
        FROM documents),
      canon AS (
        SELECT doc_id,
               regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)), '^www\.', '') AS host,
               regexp_replace(regexp_replace(
                 regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
                 '/index\.html$', ''), '/$', '') AS path_c,
               array_to_string(list_sort(list_filter(
                 string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                 x -> x <> '' AND x NOT LIKE 'utm_%')), '&') AS params_c
        FROM d),
      pages AS (
        SELECT host,
               host || path_c ||
                 CASE WHEN params_c <> '' THEN '?' || params_c ELSE '' END AS canonical_url,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
               COUNT(*) AS n_dups
        FROM canon GROUP BY 1, 2),
      stats AS (
        SELECT host, COUNT(*) AS n_pages, CAST(SUM(n_dups) AS BIGINT) AS n_raw
        FROM pages GROUP BY host),
      ranked AS (
        SELECT host, canonical_url, keeper_doc_id, n_dups,
               CAST(ROW_NUMBER() OVER (PARTITION BY host
                 ORDER BY (keeper_doc_id * 2654435761) % 4294967296,
                          canonical_url) AS INTEGER) AS rnk
        FROM pages)
      SELECT host, rnk, canonical_url, keeper_doc_id, n_dups, n_pages, n_raw
      FROM ranked JOIN stats USING (host)
      WHERE rnk <= 10
      ORDER BY host, rnk"""),
    notes = "canonical-URL dedup (case/www/slash/index.html/utm/param-order) + per-domain quota via Knuth-hash WindowGroupLimit top-10; synthetic URLs derived identically in both engines")

  /** Weighted sampling without replacement + unbiased total estimation in
    * one pass: PRIORITY SAMPLING (Duffield, Lund & Thorup, JACM 2007). Each
    * doc draws priority q = w/u (w = n_chars, u = uniform in (0,1] from the
    * repo's Knuth hash — rand()-free, reshuffle-proof); the k highest
    * priorities per language are the sample, and with τ = the (k+1)-th
    * priority, ŵ = max(w, τ) is an unbiased per-item weight estimate, so
    * Σŵ over the k sample docs estimates the class's total weight — the
    * sketch that lets a 100 TB corpus report per-class token totals from a
    * fixed per-class sample budget. Unlike the uniform `sample_per_class`,
    * long documents are proportionally more likely to be drawn (inclusion
    * probability min(1, w/τ)), which is what a token-budgeted curation
    * sample wants.
    *
    * Cross-engine bit-exactness: q = (w·2³²)/(h+1) — the numerator is an
    * exact double (< 2⁵³), the division is IEEE correctly-rounded in both
    * engines, and every emitted column floors to BIGINT before comparing;
    * the only double that crosses an aggregate is ŵ, floored per row first
    * so the sum is order-independent integer arithmetic.
    *
    * Scale: the rn ≤ k+1 filter over the per-class priority window compiles
    * to WindowGroupLimit — each executor forwards at most k+1 rows per
    * class before the shuffle — τ comes from a second window pass over the
    * SAME surviving ≤ k+1 rows/class (not a second corpus scan), and only
    * the true-total aggregate rereads the corpus (it exists to grade the
    * estimator; a production sample would drop it and scan once). No
    * full-corpus sort, no driver action.
    */
  val sampleWeightedPriority = QueryDef(
    "sample_weighted_priority",
    (spark, dir) => {
      val k = 10
      val docs = load(spark, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars").cast(LongType).as("w"))
      val totals = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("true_total_chars"))
      docs
        .withColumn("priority",
          col("w").cast(DoubleType) * lit(4294967296.0) /
            (knuth32(col("doc_id")).cast(DoubleType) + lit(1.0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("priority").desc, col("doc_id"))))
        .filter(col("rn") <= k + 1)
        // tau from the SAME top-(k+1) frame (≤ k+1 rows/class by now), not a
        // second scan branch: one more window pass over the surviving rows.
        .withColumn("tau_raw",
          coalesce(max(when(col("rn") === k + 1, col("priority")))
            .over(Window.partitionBy(col("lang"))), lit(0.0)))
        .filter(col("rn") <= k)
        .withColumn("w_hat",
          floor(greatest(col("w").cast(DoubleType), col("tau_raw"))).cast(LongType))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          max(floor(col("tau_raw")).cast(LongType)).as("tau_floor"),
          sum(col("w_hat")).as("est_total_chars"))
        .join(broadcast(totals), "lang")
        .orderBy(col("lang"))
    },
    Some("""
      WITH d AS (
        SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w,
               (doc_id * 2654435761) % 4294967296 AS h
        FROM documents),
      ranked AS (
        SELECT lang, doc_id, w,
               CAST(w AS DOUBLE) * 4294967296.0 / (h + 1.0) AS priority,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY CAST(w AS DOUBLE) * 4294967296.0 / (h + 1.0) DESC,
                          doc_id) AS rn
        FROM d),
      tau AS (
        SELECT lang,
               COALESCE(MAX(CASE WHEN rn = 11 THEN priority END), 0.0) AS tau_raw
        FROM ranked WHERE rn <= 11 GROUP BY lang),
      tot AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(w) AS BIGINT) AS true_total_chars
        FROM d GROUP BY lang),
      est AS (
        SELECT r.lang, COUNT(*) AS n_sampled,
               CAST(MAX(floor(t.tau_raw)) AS BIGINT) AS tau_floor,
               CAST(SUM(CAST(floor(GREATEST(CAST(r.w AS DOUBLE), t.tau_raw))
                 AS BIGINT)) AS BIGINT) AS est_total_chars
        FROM ranked r JOIN tau t USING (lang)
        WHERE r.rn <= 10 GROUP BY r.lang)
      SELECT lang, n_sampled, tau_floor, est_total_chars, n_docs,
             true_total_chars
      FROM est JOIN tot USING (lang)
      ORDER BY lang"""),
    notes = "priority sampling (Duffield-Lund-Thorup): weighted sample w/o replacement, k=10/class, tau-threshold HT estimator of per-class total chars; WindowGroupLimit top-(k+1), floor-to-BIGINT before every aggregate for bit-exact compare")

  /** The observed-curation plan: a quality gate + per-(lang, source) rollup
    * with two `Dataset.observe` points — input volume BEFORE the gate, kept
    * volume after — embedded as Catalyst CollectMetrics nodes. Returned with
    * its Observations so [[graft.ObserveSpec]] can read the metric values
    * after an action; the registry entry uses only the DataFrame. Fresh
    * Observation instances per call (an Observation is single-action).
    *
    * The pre-gate observe point deliberately blocks the gate predicate from
    * pushing into the scan — n_in/chars_in must see every input row; that
    * full scan is the semantics, not a plan accident.
    */
  private[graft] def observedCurate(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.Observation, org.apache.spark.sql.Observation) = {
    val inObs = org.apache.spark.sql.Observation()
    val keptObs = org.apache.spark.sql.Observation()
    val gated = load(spark, dir, "documents")
      .observe(inObs, count(lit(1)).as("n_in"),
        sum(col("n_chars")).as("chars_in"))
      .filter(col("n_chars").between(120, 450) && col("lang") =!= "zh")
      .observe(keptObs, count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("chars_kept"))
    val rollup = gated.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"), col("source"))
    (rollup, inObs, keptObs)
  }

  /** Inline observability (`Dataset.observe` → Catalyst `CollectMetrics`):
    * ingest metrics computed DURING the production rollup job as
    * plan-embedded aggregates — zero extra passes. [[pipelineAttrition]] is
    * the dedicated audit-job shape (per-rule counters, its own scan); this
    * is what a production writer publishes to its metrics sink on EVERY
    * run, where a second scan of a 100 TB input is not on the table. The
    * registry result is the curated rollup, oracle-gated — pinning that the
    * CollectMetrics nodes are pass-through on the data path; the metric
    * values themselves and the one-scan plan shape are pinned in
    * ObserveSpec.
    */
  val pipelineObserve = QueryDef(
    "pipeline_observe",
    (spark, dir) => observedCurate(spark, dir)._1,
    Some("""
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents
      WHERE n_chars BETWEEN 120 AND 450 AND lang <> 'zh'
      GROUP BY lang, source
      ORDER BY lang, source"""),
    notes = "Dataset.observe / CollectMetrics: pre-gate + post-gate metrics ride the production job (no audit scans); rollup oracle pins pass-through, ObserveSpec pins metric values + single-scan plan")

  /** LEAKAGE-FREE train/val/test split — the cluster-aware version of
    * [[sampleSplit]]: near-duplicate documents must never straddle the
    * train/test boundary (a test doc whose near-dup twin was trained on is
    * contamination, the same failure `pipeline_decontaminate` guards
    * against benchmark sets — except self-inflicted). Assignment hashes
    * the near-dup CLUSTER root ([[TextQueries2.componentLabels]]'s
    * pointer-doubling connected components over the verified Jaccard pair
    * graph, the `dedup_components` labels), not the doc id, so every
    * member of a cluster lands in one split by construction; singletons
    * hash their own id and are distributed exactly as [[sampleSplit]]
    * would. `n_moved` counts the docs whose naive doc-hash split differs
    * from their cluster split — the contamination this operator removed.
    *
    * Scale shape: labels come from the O(log diameter)-round CC loop
    * (each round a fixed number of shuffles over O(V+E) label/edge rows —
    * only docs that appear in a near-dup edge, a small fraction of the
    * corpus); the split itself is ONE left join against that label table
    * plus a row-local hash — no corpus sort, no new shuffle class. The
    * doc_id % 20 slice matches the pair graph's slice (the all-pairs
    * token join is the oracle's recursive-CTE tractability bound, as in
    * `dedup_components`).
    */
  val pipelineSplitLeakfree = QueryDef(
    "pipeline_split_leakfree",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"))
      val labels = TextQueries2.componentLabels(spark, dir)
      def splitOf(c: org.apache.spark.sql.Column) = {
        val b = knuth32(c) % 10
        when(b < 8, lit("train")).when(b === 8, lit("val"))
          .otherwise(lit("test"))
      }
      docs.join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("root"))
        .withColumn("split", splitOf(col("root")))
        .withColumn("naive", splitOf(col("doc_id")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("root")).as("n_clusters"),
          sum(when(col("split") =!= col("naive"), lit(1L)).otherwise(lit(0L)))
            .as("n_moved"),
          sum(col("doc_id")).as("doc_id_sum"))
        .orderBy(col("split"))
    },
    Some("""
      WITH RECURSIVE
      d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
            FROM documents WHERE doc_id % 20 = 0),
      e AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
      c AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
            FROM e a JOIN e b ON a.tok = b.tok AND a.lang = b.lang
                              AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      n AS (SELECT doc_id, len(toks) AS n FROM d),
      pairs AS (
        SELECT a_id, b_id
        FROM c JOIN n na ON c.a_id = na.doc_id JOIN n nb ON c.b_id = nb.doc_id
        WHERE CAST(floor(common / (na.n + nb.n - common) * 10000 + 0.5) AS BIGINT) >= 5000),
      edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                UNION ALL SELECT b_id, a_id FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e2.dst, reach.r FROM reach JOIN edges e2 ON e2.src = reach.id),
      comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
      lab AS (
        SELECT d.doc_id, COALESCE(comp.root, d.doc_id) AS root
        FROM d LEFT JOIN comp ON d.doc_id = comp.id),
      cls AS (
        SELECT doc_id, root,
          CASE WHEN (root * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
               WHEN (root * 2654435761) % 4294967296 % 10 = 8 THEN 'val'
               ELSE 'test' END AS split,
          CASE WHEN (doc_id * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
               WHEN (doc_id * 2654435761) % 4294967296 % 10 = 8 THEN 'val'
               ELSE 'test' END AS naive
        FROM lab)
      SELECT split, COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT root) AS BIGINT) AS n_clusters,
             CAST(SUM(CASE WHEN split <> naive THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
             CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
      FROM cls
      GROUP BY split
      ORDER BY split"""),
    notes = "cluster-aware leakage-free split: near-dup connected components share one split (hash the CC root, not the doc id); n_moved = docs rescued from train/test contamination; oracle recomputes the components with a recursive CTE")

  /** TOKEN-budget corpus selection — training mixtures are specified in
    * TOKENS, not documents ("take 4 B tokens of en, 2 B of zh"): admit
    * docs per language in deterministic hash-priority order while the
    * running token total fits the language's budget (weights =
    * `sample_mixture`'s, total fixture-calibrated so every language's
    * budget binds at every SF). Since token counts are positive, "running
    * total ≤ budget" defines a prefix of the priority order — exact,
    * engine-reproducible, and stable under corpus growth (a new doc can
    * only evict lower-priority admits, never reorder survivors).
    *
    * Scale shape — the reason this is NOT one corpus-wide window: a
    * per-lang running sum over 100 TB is a full sort of the corpus. Phase
    * 1 aggregates a 256-bucket histogram of token mass per (lang, coarse
    * hash bucket) — one map-side-combinable aggregate, output ≤ langs×256
    * rows — whose cumulative sums classify every bucket as wholly inside
    * the budget ('all'), wholly past it ('none'), or the ONE boundary
    * bucket per language ('edge'). Phase 2 sorts ONLY the edge bucket
    * (1/256 of one language) for the exact cut; 'all'/'none' docs are
    * admitted/rejected with no sort at all, because bucket-prefix totals
    * bound every member's running total on both sides. Value-identical to
    * the single-window rule, which is what the oracle runs.
    */
  val sampleTokenBudget = QueryDef(
    "sample_token_budget",
    (spark, dir) => {
      val totalBudget = 12000L // binds for every lang at sf0.001+
      val t = split(col("text"), " ")
      val d = load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), size(t).cast(LongType).as("n_tok"))
        .withColumn("h", knuth32(col("doc_id")))
        .withColumn("hb", expr("h div 16777216")) // 256 coarse buckets
      val budgetOf = expr(
        s"""($totalBudget * CASE lang WHEN 'en' THEN 4000
            WHEN 'zh' THEN 2000 WHEN 'es' THEN 1500 WHEN 'de' THEN 1500
            ELSE 1000 END) div 10000""")
      val wB = Window.partitionBy(col("lang")).orderBy(col("hb"))
      val buckets = d.groupBy(col("lang"), col("hb"))
        .agg(sum(col("n_tok")).as("bt"))
        .withColumn("cum0", coalesce(sum(col("bt")).over(
          wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("budget_tok", budgetOf)
        .withColumn("cls",
          when(col("cum0") + col("bt") <= col("budget_tok"), "all")
            .when(col("cum0") >= col("budget_tok"), "none")
            .otherwise("edge"))
        .select(col("lang"), col("hb"), col("cum0"), col("budget_tok"),
          col("cls"))
      val classed = d.join(broadcast(buckets), Seq("lang", "hb"))
      // exactly one edge bucket per lang (cum0 is monotone in hb), so the
      // only sort in the plan is over that bucket's rows
      val wE = Window.partitionBy(col("lang"), col("hb"))
        .orderBy(col("h"), col("doc_id"))
      val edge = classed.filter(col("cls") === "edge")
        .withColumn("admit",
          col("cum0") + sum(col("n_tok")).over(
            wE.rowsBetween(Window.unboundedPreceding, 0)) <= col("budget_tok"))
      val bulk = classed.filter(col("cls") =!= "edge")
        .withColumn("admit", col("cls") === "all")
      bulk.unionByName(edge.select(bulk.columns.map(col): _*))
        .groupBy(col("lang"))
        .agg(max(col("budget_tok")).as("budget_tok"),
          count(when(col("admit"), lit(1))).as("n_admitted"),
          sum(when(col("admit"), col("n_tok")).otherwise(lit(0L)))
            .as("tok_admitted"),
          count(lit(1)).as("n_total"),
          sum(col("n_tok")).as("tok_total"))
        .withColumn("util_bp", expr("tok_admitted * 10000 div budget_tok"))
        .select(col("lang"), col("budget_tok"), col("n_admitted"),
          col("tok_admitted"), col("n_total"), col("tok_total"),
          col("util_bp"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               (doc_id * 2654435761) % 4294967296 AS h
        FROM documents),
      c AS (
        SELECT *,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               (12000 * CASE lang WHEN 'en' THEN 4000 WHEN 'zh' THEN 2000
                  WHEN 'es' THEN 1500 WHEN 'de' THEN 1500 ELSE 1000 END)
                 // 10000 AS budget_tok
        FROM d),
      agg AS (
        SELECT lang, budget_tok,
               CAST(COUNT(*) FILTER (WHERE cum <= budget_tok) AS BIGINT)
                 AS n_admitted,
               CAST(COALESCE(SUM(n_tok) FILTER (WHERE cum <= budget_tok), 0)
                 AS BIGINT) AS tok_admitted,
               COUNT(*) AS n_total,
               CAST(SUM(n_tok) AS BIGINT) AS tok_total
        FROM c
        GROUP BY lang, budget_tok)
      SELECT lang, budget_tok, n_admitted, tok_admitted, n_total, tok_total,
             tok_admitted * 10000 // budget_tok AS util_bp
      FROM agg
      ORDER BY lang"""),
    notes = "token-budget selection (mixtures are specified in tokens): hash-priority prefix per language under a token budget; two-phase 256-bucket histogram classification so only the boundary bucket is ever sorted — value-identical to the oracle's single-window rule")

  val all: Seq[QueryDef] = Seq(sampleSplit, samplePerClass, quantilesExact,
    mapFuncs, histogramPrices, pipelineCurate, pipelineCurateV2,
    pipelineIncremental,
    pipelinePack, pipelineDecontaminate, pipelineDecontaminateSem,
    textRepetition, pipelineRedact,
    sampleTemperature, sampleMixture, pipelineAttrition, pipelineShardBalance,
    quantilesWeighted, pipelineDatasetCard, sampleEpochs, sampleStratified,
    pipelineKanonymity, pipelineUrlDedup, sampleWeightedPriority,
    pipelineObserve, pipelineSplitLeakfree, sampleTokenBudget)
}
