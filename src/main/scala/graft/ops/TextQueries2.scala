package graft.ops

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Tables.load

/** Training-data text pipeline, wave 2: tokenizer comparison (whitespace vs
  * BPE-ish subword chunking), per-document quality scoring with bucketing,
  * and connected-components canonicalization over the near-duplicate pair
  * graph — the step that turns pairwise dedup candidates into "keep one doc
  * per duplicate cluster" at corpus scale.
  */
object TextQueries2 {

  /** Token counting two ways: whitespace tokens vs a BPE-ish regex that
    * chunks words into ≤4-char subword pieces (`[a-z]{1,4}` greedy — the
    * shape of byte-pair tokenizers without a learned vocabulary). Counts are
    * exact; regex semantics (greedy char-class quantifiers) agree between
    * Java regex and RE2.
    */
  val textTokens = QueryDef(
    "text_tokens",
    (spark, dir) => {
      load(spark, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)))
            .cast("long").as("n_subword"),
          size(regexp_extract_all(col("text"), lit("[a-z]{5,}"), lit(0)))
            .cast("long").as("n_long"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_subword,
             CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS BIGINT) AS n_long,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
      FROM documents
      WHERE doc_id % 10 = 0
      ORDER BY doc_id"""))

  /** Per-document quality scoring → bucket histogram. All signals are exact
    * integers scaled to basis points before thresholding, so the bucket
    * boundaries are integer comparisons (no float-boundary flakiness):
    * distinct-token ratio (repetitiveness), stopword ratio (natural-language
    * likelihood), token count (fragment detection).
    */
  val textQuality = QueryDef(
    "text_quality",
    (spark, dir) => {
      val stop = Seq("the", "a", "and", "of", "in")
      val toks = split(col("text"), " ")
      val scored = load(spark, dir, "documents")
        .select(col("lang"),
          size(toks).cast("long").as("n_tok"),
          size(array_distinct(toks)).cast("long").as("n_dis"),
          Tables.occurrenceCount(toks, stop).cast("long").as("n_stop"))
        .withColumn("dis_bp", floor(col("n_dis") * 10000 / col("n_tok")).cast("long"))
        .withColumn("stop_bp", floor(col("n_stop") * 10000 / col("n_tok")).cast("long"))
      scored
        .withColumn("bucket",
          when(col("n_tok") < 30, lit("short"))
            .when(col("dis_bp") < 2500, lit("repetitive"))
            .when(col("stop_bp") >= 200 && col("stop_bp") <= 2500, lit("natural"))
            .otherwise(lit("odd")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          min(col("dis_bp")).as("min_dis_bp"),
          max(col("stop_bp")).as("max_stop_bp"))
        .orderBy(col("lang"), col("bucket"))
    },
    Some("""
      WITH scored AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis,
               CAST(len(list_filter(string_split(text, ' '),
                 t -> list_contains(['the','a','and','of','in'], t))) AS BIGINT) AS n_stop
        FROM documents),
      b AS (
        SELECT lang, n_tok,
               CAST(floor(n_dis * 10000 / n_tok) AS BIGINT) AS dis_bp,
               CAST(floor(n_stop * 10000 / n_tok) AS BIGINT) AS stop_bp
        FROM scored)
      SELECT lang,
             CASE WHEN n_tok < 30 THEN 'short'
                  WHEN dis_bp < 2500 THEN 'repetitive'
                  WHEN stop_bp BETWEEN 200 AND 2500 THEN 'natural'
                  ELSE 'odd' END AS bucket,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
             MIN(dis_bp) AS min_dis_bp,
             MAX(stop_bp) AS max_stop_bp
      FROM b
      GROUP BY 1, 2
      ORDER BY lang, bucket"""))

  /** Connected components over the near-duplicate pair graph
    * ([[TextQueries.dedupJaccardTokens]] candidates): min-label propagation
    * with POINTER DOUBLING — each round first propagates the neighborhood
    * min (one shuffle join + aggregate) and then short-circuits
    * `root := root(root)` (one self-join), so label paths halve every round
    * and the fixpoint arrives in O(log diameter) rounds instead of
    * O(diameter). At corpus scale each round is a fixed number of shuffles
    * over O(V+E) rows, and round count — the serial bottleneck no cluster
    * size can hide — is logarithmic. The loop is a [[FusedFixpoint]] (two
    * rounds per checkpoint, guard 10). This is the canonicalization step of
    * corpus-scale dedup (pick one keeper per duplicate cluster,
    * transitively).
    *
    * The DuckDB oracle computes the same closure with a recursive CTE —
    * independent formulation, identical clusters.
    */
  /** (id, root) component labels for every doc that appears in a near-dup
    * edge (Jaccard ≥ 0.5 pairs on the doc_id % 20 corpus slice) — the
    * min-label pointer-doubling loop shared by `dedup_components` (cluster
    * census) and `dedup_keep_best` (the apply step).
    */
  def componentLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val pairs = TextQueries.dedupJaccardTokens.fn(spark, dir)
      .select(col("a_id"), col("b_id"))
    FusedFixpoint.pinned(pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionAll(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
    ) { edges =>
      // one propagate-then-double round over an (id, root) table; `moved`
      // reports the propagate half's movement. It is 0 only at the
      // fixpoint: then every edge joins equal roots, each component's root
      // is its minimum id, whose own root is itself, so doubling moves
      // nothing either
      def step(l: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val neighborMin = edges
          .join(l, col("src") === col("id"))
          .groupBy(col("dst")).agg(min(col("root")).as("nb_root"))
        val stepped = l
          .join(neighborMin, col("id") === col("dst"), "left")
          .select(col("id"),
            least(col("root"), coalesce(col("nb_root"), col("root"))).as("root"),
            (col("nb_root") < col("root")).cast("long").as("moved"))
        // pointer doubling: follow one hop of the label table itself
        val rootOf = stepped.select(col("id").as("r_id"), col("root").as("r_root"))
        stepped
          .join(rootOf, col("root") === col("r_id"), "left")
          .select(col("id"),
            least(col("root"), coalesce(col("r_root"), col("root"))).as("root"),
            col("moved"))
      }
      val (labels, _, _) = FusedFixpoint(
        edges.select(col("src").as("id")).distinct().withColumn("root", col("id")),
        10, sum(col("moved")), _ == 0)(step)
      labels.select(col("id"), col("root"))
    }
  }

  val dedupComponents = QueryDef(
    "dedup_components",
    (spark, dir) =>
      componentLabels(spark, dir).groupBy(col("root"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
        .orderBy(col("root")),
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
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id)
      SELECT root, COUNT(*) AS n_docs, MAX(id) AS max_doc
      FROM comp
      GROUP BY root
      ORDER BY root"""))

  /** Text normalization — the canonical pre-dedup cleanup pass: lowercase,
    * strip non-alphanumerics, collapse runs of whitespace, trim. Emits an
    * md5 of the normalized text so the oracle pins BYTE-exact equality of
    * the whole normalization, not just lengths. (DuckDB's regexp_replace
    * needs the 'g' flag to match Spark's replace-all semantics.)
    * Pure narrow map — normalization never shuffles at any scale.
    */
  val textNormalize = QueryDef(
    "text_normalize",
    (spark, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
      load(spark, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          norm.as("norm_text"))
        .select(col("doc_id"),
          length(col("norm_text")).as("norm_len"),
          md5(col("norm_text").cast("binary")).as("norm_md5"),
          substring(col("norm_text"), 1, 40).as("preview"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                    ' +', ' ', 'g')) AS norm_text
        FROM documents
        WHERE doc_id % 10 = 0)
      SELECT doc_id,
             CAST(length(norm_text) AS INTEGER) AS norm_len,
             md5(norm_text) AS norm_md5,
             substring(norm_text, 1, 40) AS preview
      FROM n
      ORDER BY doc_id"""))

  /** Top-5 trigrams per language through the native [[graft.functions.NGrams]]
    * table-generating function (UDTF surface): plans as the same `Generate`
    * operator as `explode` but emits n-grams lazily per row — no per-document
    * n-gram array ever materializes. Oracle rebuilds trigrams with an
    * independent list-comprehension formulation.
    */
  val textNgrams = QueryDef(
    "text_ngrams",
    (spark, dir) => {
      import graft.functions.NGrams
      // spread first: the trigram Generate otherwise runs inside the
      // one-task single-file scan (r9 single-task audit: 0.34 s stage;
      // A/B 0.78 -> 0.66 s). No-op on a pre-split cluster scan.
      val grams = graft.Tables.spreadIfNarrow(load(spark, dir, "documents"))
        .select(col("lang"), NGrams(col("text"), 3).as("ngram"))
      val counts = grams.groupBy(col("lang"), col("ngram"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("cnt").desc, col("ngram"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("ngram"), col("cnt"))
        .orderBy(col("lang"), col("rn"))
    },
    Some("""
      WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
      g AS (SELECT lang,
                   unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS ngram
            FROM toks WHERE len(t) >= 3),
      c AS (SELECT lang, ngram, COUNT(*) AS cnt FROM g GROUP BY lang, ngram),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY cnt DESC, ngram) AS rn FROM c)
      SELECT lang, rn, ngram, cnt FROM r WHERE rn <= 5
      ORDER BY lang, rn"""))

  /** Context-window chunking — split each document into 50-token windows
    * every 40 tokens (10-token overlap), the pre-tokenizer step of every
    * LLM training-data job. Chunk starts come from `sequence` + `explode`
    * (lazy, no chunk array materialization); runt tails under 10 tokens are
    * dropped unless they are the document's only chunk. Each chunk's md5
    * pins byte-exact window extraction in the oracle.
    */
  val textChunk = QueryDef(
    "text_chunk",
    (spark, dir) => {
      val base = load(spark, dir, "documents")
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
      base
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(1), col("n"), lit(40))).as("s"))
        .withColumn("chunk_len", least(lit(50), col("n") - col("s") + 1))
        .filter(col("s") === 1 || col("chunk_len") >= 10)
        .select(col("doc_id"),
          ((col("s") - 1) / 40).cast("long").as("chunk_idx"),
          col("chunk_len").cast("long").as("chunk_len"),
          md5(concat_ws(" ", slice(col("toks"), col("s"), col("chunk_len")))
            .cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents WHERE doc_id % 50 = 0),
      chunks AS (
        SELECT doc_id, toks, n, unnest(range(1, n + 1, 40)) AS s FROM d),
      sized AS (
        SELECT doc_id, s,
               LEAST(50, n - s + 1) AS chunk_len,
               array_to_string(toks[s : s + LEAST(50, n - s + 1) - 1], ' ') AS chunk
        FROM chunks
        WHERE s = 1 OR LEAST(50, n - s + 1) >= 10)
      SELECT doc_id,
             CAST((s - 1) // 40 AS BIGINT) AS chunk_idx,
             CAST(chunk_len AS BIGINT) AS chunk_len,
             md5(chunk) AS chunk_md5
      FROM sized
      ORDER BY doc_id, chunk_idx"""))

  /** The APPLY step of near-dup dedup — what the census queries
    * ([[dedupComponents]] and the sketch summaries) feed: every near-dup
    * cluster keeps exactly ONE document (the longest, ties to the lower id
    * — the "best quality" stand-in), singletons keep themselves, and the
    * output accounts for every kept doc with its cluster size and the
    * dropped-id checksum. This is the operator that actually shrinks the
    * corpus; at 100 TB it is the same labels join + one per-cluster
    * row_number, both keyed by the cluster root.
    */
  val dedupKeepBest = QueryDef(
    "dedup_keep_best",
    (spark, dir) => {
      val docs = load(spark, dir, "documents")
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("n_chars"))
      val labels = componentLabels(spark, dir)
      val labeled = docs.join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("root"), col("doc_id")).as("root"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("root"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      labeled
        .withColumn("rn", row_number().over(w))
        .groupBy(col("root"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
          max(when(col("rn") === 1, col("n_chars"))).as("kept_chars"),
          coalesce(sum(when(col("rn") > 1, col("doc_id"))), lit(0L))
            .as("dropped_id_sum"))
        .orderBy(col("root"))
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
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
      comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
      labeled AS (
        SELECT doc.doc_id, doc.n_chars, COALESCE(comp.root, doc.doc_id) AS root
        FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id % 20 = 0) doc
        LEFT JOIN comp ON comp.id = doc.doc_id),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY root
                    ORDER BY n_chars DESC, doc_id) AS rn
        FROM labeled)
      SELECT root, COUNT(*) AS n_members,
             MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
             MAX(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars,
             CAST(COALESCE(SUM(CASE WHEN rn > 1 THEN doc_id END), 0) AS BIGINT)
               AS dropped_id_sum
      FROM ranked
      GROUP BY root
      ORDER BY root"""),
    notes = "dedup apply-step: one survivor per cluster (longest, tie lower id) + singleton passthrough")

  /** Corpus bigram language-model statistics: adjacent-token pair counts
    * and the integer-bp conditional P(b|a) — the count tables every n-gram
    * LM (and data-quality perplexity proxy) is built from. Pair extraction
    * is positional (`explode(sequence(1, n−1))` + `element_at`), a narrow
    * map; the count table shuffles at bigram-vocabulary cardinality, and
    * the conditional denominator is a window over the `a`-margin — the
    * same two-aggregate shape as `events_markov`, applied to text. Top-100
    * by frequency with full tiebreaks keeps the output deterministic.
    */
  val textBigramLm = QueryDef(
    "text_bigram_lm",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      val pairs = load(spark, dir, "documents")
        .select(toks.as("toks"))
        // 1-token docs: sequence(1, 0) is the DESCENDING [1, 0] in Spark,
        // and its i=0 makes element_at throw — guard like textLmCoverage
        // (the oracle's generate_series(1, 0) is simply empty)
        .filter(size(col("toks")) >= 2)
        .select(explode(sequence(lit(1), size(col("toks")) - 1)).as("i"), col("toks"))
        .select(element_at(col("toks"), col("i")).as("a"),
          element_at(col("toks"), col("i") + 1).as("b"))
      val wA = Window.partitionBy(col("a"))
      pairs.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_pair"))
        .withColumn("n_a", sum(col("n_pair")).over(wA))
        .select(col("a"), col("b"), col("n_pair"), col("n_a"),
          expr("(10000L * n_pair) div n_a").as("p_bp"))
        .orderBy(col("n_pair").desc, col("a"), col("b"))
        .limit(100)
    },
    Some("""
      WITH d AS (
        SELECT string_split(text, ' ') AS toks FROM documents),
      pos AS (
        SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM d),
      pairs AS (
        SELECT toks[i] AS a, toks[i + 1] AS b FROM pos),
      counts AS (
        SELECT a, b, COUNT(*) AS n_pair FROM pairs GROUP BY a, b)
      SELECT a, b, n_pair,
             CAST(SUM(n_pair) OVER (PARTITION BY a) AS BIGINT) AS n_a,
             CAST((10000 * n_pair) // SUM(n_pair) OVER (PARTITION BY a)
               AS BIGINT) AS p_bp
      FROM counts
      ORDER BY n_pair DESC, a, b
      LIMIT 100"""),
    notes = "bigram LM count table + integer-bp conditionals; positional pair extraction")

  /** One BPE-trainer merge step: the distributed pair count that dominates
    * byte-pair-encoding vocabulary training. The corpus first collapses to
    * its word-frequency table (groupBy word — at 100 TB this is the classic
    * many-orders-of-magnitude reduction: billions of running words → a few
    * million distinct types, with map-side partial counts), then adjacent
    * symbol pairs are exploded ONLY over the distinct types, each weighted
    * by its corpus frequency. The top pair is the merge a BPE trainer would
    * apply next; we return the top 20 so the ranking itself is verified.
    *
    * Pair generation stays lazy and codegen'd: transform(sequence(...)) over
    * the word's character positions, no UDF. Counts are exact BIGINTs;
    * (a, b) keys make freq DESC, a, b a total order, so the LIMIT is
    * deterministic on both engines.
    */
  val textBpeStep = QueryDef(
    "text_bpe_step",
    (spark, dir) => {
      // NOT repartitioned before tokenize, by measurement (r9 A/B,
      // tools/TimeQuery at sf0.1: 0.40 s as-is vs 0.51 s with a pre-explode
      // repartition): the word-frequency collapse's map-side combine makes
      // the scan-task tokenize cheaper than shuffling the raw text.
      val wf = bpeWordFreqs(spark, dir)
      wf.select(col("f"),
          explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
        .groupBy(substring(col("pair"), 1, 1).as("a"),
          substring(col("pair"), 2, 1).as("b"))
        .agg(sum(col("f")).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(20)
    },
    Some("""
      WITH words AS (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents),
      wf AS (
        SELECT w, COUNT(*) AS f FROM words WHERE length(w) >= 2 GROUP BY w),
      pairs AS (
        SELECT substr(w, CAST(t.i AS INT), 1) AS a,
               substr(w, CAST(t.i AS INT) + 1, 1) AS b, f
        FROM wf, UNNEST(range(1, length(w))) AS t(i))
      SELECT a, b, CAST(SUM(f) AS BIGINT) AS freq
      FROM pairs GROUP BY a, b
      ORDER BY freq DESC, a, b LIMIT 20"""),
    notes = "BPE merge-step pair count over the word-frequency table, not the corpus; lazy pair explode")

  /** Source×source 5-gram overlap matrix — the corpus-similarity heatmap a
    * data-mixing decision reads (which sources duplicate each other, which
    * are distinct). Jaccard over each source's DISTINCT word-5-gram set, in
    * integer basis points; the diagonal (s1 = s2, jaccard 10000) is kept as
    * a built-in sanity row.
    *
    * Scale design: the corpus reduces to DISTINCT (source, shingle) ONCE
    * (the same dedup-shaped shuffle pipeline_decontaminate rides), then the
    * pairwise intersection is one self-join keyed on the shingle — per-gram
    * fanout is bounded by |sources|² (here ≤400), never document×document.
    * Set sizes broadcast back onto the ≤|S|² result rows.
    *
    * Shape settled BY MEASUREMENT (r8, 10× organic-growth corpus,
    * ScaleEvidence methodology): this codegen'd SMJ self-join runs
    * 1.65 s→3.55 s at 10× (2.2× growth, 0.22× per-row — retiring the r6
    * 0.32×-per-row watch item); the "one fewer exchange" alternative
    * (groupBy gram → collect_set(source) → row-local pair explode) measured
    * 18.8 s at 10× — the object-hash aggregate over millions of distinct
    * gram groups costs far more than the join exchange it saves — and
    * xxhash64-ing grams to 8-byte join keys was flat-to-worse (4.1 s at
    * 10×) while adding oracle collision risk. Keep the join.
    */
  val corpusOverlapMatrix = QueryDef(
    "corpus_overlap_matrix",
    (spark, dir) => {
      import graft.functions.NGrams
      // spread first: the 5-gram Generate otherwise runs inside the
      // one-task single-file scan (r9 single-task audit: 0.43 s stage;
      // A/B 1.12 -> 1.06 s). No-op on a pre-split cluster scan.
      val sh = graft.Tables.spreadIfNarrow(load(spark, dir, "documents"))
        .select(col("source"), NGrams(col("text"), 5).as("sh"))
        .distinct()
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("nsh"))
      val inter = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.source") <= col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.toDF("s1", "n1")), Seq("s1"))
        .join(broadcast(sizes.toDF("s2", "n2")), Seq("s2"))
        .withColumn("jaccard_bp",
          expr("(inter * 10000) DIV (n1 + n2 - inter)"))
        .select(col("s1"), col("s2"), col("inter"), col("n1"), col("n2"),
          col("jaccard_bp"))
        .orderBy(col("s1"), col("s2"))
    },
    Some("""
      WITH sh AS (
        SELECT DISTINCT source,
               unnest(list_transform(range(1, len(t) - 3),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4])) AS sh
        FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 5),
      sizes AS (SELECT source, COUNT(*) AS nsh FROM sh GROUP BY source),
      pairs AS (
        SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.source <= b.source
        GROUP BY 1, 2)
      SELECT s1, s2, inter, x.nsh AS n1, y.nsh AS n2,
             (inter * 10000) // (x.nsh + y.nsh - inter) AS jaccard_bp
      FROM pairs
      JOIN sizes x ON s1 = x.source
      JOIN sizes y ON s2 = y.source
      ORDER BY s1, s2"""),
    notes = "distinct-shingle self-join keyed on the gram; |S|^2-bounded fanout, broadcast set sizes")

  /** LM-coverage quality scoring — the integer-exact stand-in for
    * perplexity filtering: score each document by the share of its word
    * bigrams that fall in the corpus' top-300 bigram list (a document the
    * corpus LM "explains" scores high; gibberish and boilerplate-with-rare-
    * joins score low), then histogram the corpus by coverage decile.
    *
    * Scale design: bigram counting is one shuffle with map-side combine
    * over bigram TYPES (bounded by vocab², not corpus size); the top-300
    * list is rank-deterministic (count DESC, bigram ASC) and BROADCAST back
    * over the doc bigrams, so scoring is a map-side join + one doc-keyed
    * agg. True -log p perplexity would break cross-engine hash exactness
    * (transcendental libm divergence); hit-share in bp keeps the decision
    * integer while ranking documents the same way for filtering purposes.
    */
  val textLmCoverage = QueryDef(
    "text_lm_coverage",
    (spark, dir) => {
      // index-form explode (explode(sequence) + element_at), not the
      // transform(sequence, lambda) struct-HOF: the lambda form evaluates
      // interpreted (CodegenFallback) and this stream is consumed twice
      // (r17's curate_v2/dsir/ccnet migration, applied here in r18)
      val bg = load(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"),
          explode(expr("sequence(1, size(t) - 1)")).as("i"))
        .select(col("doc_id"),
          expr("concat(element_at(t, i), ' ', element_at(t, i + 1))").as("b"))
      // top-300 via orderBy+limit — Catalyst plans TakeOrderedAndProject
      // (per-partition top-k + driver merge of 300-row heaps), where the
      // r17 row_number window moved the ENTIRE bigram vocabulary to one
      // partition (the Window.orderBy inventory's one corpus-sized site).
      // Same rows: the (count desc, bigram) order is total, so the limit
      // is exactly the rn <= 300 selection
      val top = bg.groupBy(col("b")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("b")).limit(300)
        .select(col("b")).withColumn("hit", lit(1))
      bg.join(broadcast(top), Seq("b"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bg"), count(col("hit")).as("hits"))
        .groupBy(expr("(hits * 10000 DIV n_bg) DIV 1000").as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("hits")).as("tot_hits"),
          sum(col("n_bg")).as("tot_bigrams"))
        .orderBy(col("decile"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS b
        FROM toks WHERE len(t) >= 2),
      counts AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
      top AS (
        SELECT b FROM (
          SELECT b, ROW_NUMBER() OVER (ORDER BY c DESC, b) AS rn FROM counts)
        WHERE rn <= 300),
      cov AS (
        SELECT doc_id, COUNT(*) AS n_bg,
               COUNT(*) FILTER (WHERE b IN (SELECT b FROM top)) AS hits
        FROM bg GROUP BY doc_id)
      SELECT (hits * 10000 // n_bg) // 1000 AS decile,
             COUNT(*) AS n_docs,
             CAST(SUM(hits) AS BIGINT) AS tot_hits,
             CAST(SUM(n_bg) AS BIGINT) AS tot_bigrams
      FROM cov GROUP BY 1 ORDER BY 1"""),
    notes = "perplexity-filter stand-in: top-300 bigram hit share in bp; LM table bounded by vocab^2, broadcast")

  /** Shared BPE building blocks — the greedy-apply logic is subtle enough
    * that it must exist ONCE per engine (it used to exist in four copies;
    * a review traced a real round-2+ bug through two of them, see
    * [[bpeApplyTop]]). Spark side here, the generated-SQL twins below.
    */
  private[graft] def bpeWordFreqs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    load(spark, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))

  /** Word-frequency table → char-level symbol table (1-based positions). */
  private[graft] def bpeChars(wf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    wf.select(col("w"), col("f"),
        posexplode(split(col("w"), "")).as(Seq("pos", "sym")))
      .select(col("w"), col("f"), (col("pos") + 1).cast("long").as("pos"),
        col("sym"))

  /** Symbol table + successor column. */
  private[graft] def bpeAdj(syms: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    syms.withColumn("nxt",
      lead(col("sym"), 1).over(
        Window.partitionBy(col("w")).orderBy(col("pos"))))
  }

  /** GREEDY LEFT-TO-RIGHT NON-OVERLAPPING application of one merge pair:
    * "aaaa" + merge(a,a) → aa,aa — not three overlapping pairs. Candidate
    * positions form islands of CONSECUTIVE positions and exactly the even
    * offsets within an island merge (for a ≠ b islands have length 1 and
    * the parity rule is vacuous; for a = b runs it IS the greedy rule).
    *
    * The parity trick is only sound on consecutive positions, so the
    * output RENUMBERS positions (row_number per word). Without that,
    * round 2+ of a trainer breaks: after one apply the surviving symbols
    * sit at gapped positions, overlapping candidates land in SEPARATE
    * islands ([ha,ha,ha] at pos 1,3,5 → both pairs "merge", the third
    * symbol is consumed twice and vanishes). Found by review; pinned with
    * a run-of-three case in BpeTrainSpec — the unrolled oracle replicated
    * the same arithmetic, so only an independent spec could catch it.
    */
  private[graft] def bpeApplyTop(adj: org.apache.spark.sql.DataFrame,
      top: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wpos = Window.partitionBy(col("w")).orderBy(col("pos"))
    val cand = adj.crossJoin(broadcast(top
        .select(col("a").as("top_a"), col("b").as("top_b"))))
      .withColumn("cand",
        (col("sym") === col("top_a") && col("nxt") === col("top_b"))
          .cast("int"))
      .withColumn("isl", col("pos") - sum(col("cand")).over(
        wpos.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("isl_start",
        min(when(col("cand") === 1, col("pos")))
          .over(Window.partitionBy(col("w"), col("isl"))))
      .withColumn("is_merge",
        col("cand") === 1 && (col("pos") - col("isl_start")) % 2 === 0)
      .withColumn("consumed",
        coalesce(lag(col("is_merge"), 1).over(wpos), lit(false)))
    cand.filter(!col("consumed"))
      .select(col("w"), col("f"), col("pos"),
        when(col("is_merge"), concat(col("top_a"), col("top_b")))
          .otherwise(col("sym")).as("sym"))
      .withColumn("pos", row_number().over(wpos).cast("long"))
  }

  /** The argmax merge pair of a symbol table (1 row: a, b, freq). */
  private[graft] def bpeTopPair(adj: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    adj.filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("a"), col("nxt").as("b"))
      .agg(sum(col("f")).as("freq"))
      .orderBy(col("freq").desc, col("a"), col("b"))
      .limit(1)

  /** SQL twins of the blocks above, generated once. `bpePrefixSql` ends in
    * syms1 (char-level, 1-based pos); `bpeRoundSql(k)` is one argmax +
    * greedy-apply round syms$k → syms${k+1}, positions renumbered exactly
    * like [[bpeApplyTop]]. syms/top/adj are MATERIALIZED against DuckDB's
    * exponential CTE re-inlining (the kcore-converge lesson).
    */
  private val BpePrefixSql = """words AS (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents),
      wf AS (
        SELECT w, COUNT(*) AS f FROM words WHERE length(w) >= 2 GROUP BY w),
      syms1 AS MATERIALIZED (
        SELECT w, f, CAST(t.i AS BIGINT) AS pos,
               substr(w, CAST(t.i AS INT), 1) AS sym
        FROM wf, UNNEST(range(1, length(w) + 1)) AS t(i))"""

  private def bpeRoundSql(k: Int): String =
    s"""      adj$k AS MATERIALIZED (
        SELECT w, f, pos, sym,
               LEAD(sym, 1) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM syms$k),
      top$k AS MATERIALIZED (
        SELECT sym AS a, nxt AS b, CAST(SUM(f) AS BIGINT) AS freq
        FROM adj$k WHERE nxt IS NOT NULL
        GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2 LIMIT 1),
      cand$k AS (
        SELECT j.w, j.f, j.pos, j.sym, j.nxt, t.a, t.b,
               CASE WHEN j.sym = t.a AND j.nxt = t.b THEN 1 ELSE 0 END AS cand
        FROM adj$k j, top$k t),
      isl$k AS (
        SELECT *, pos - SUM(cand) OVER (PARTITION BY w ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS isl
        FROM cand$k),
      mrk$k AS (
        SELECT *, MIN(CASE WHEN cand = 1 THEN pos END)
                 OVER (PARTITION BY w, isl) AS isl_start
        FROM isl$k),
      mg$k AS (
        SELECT *, cand = 1 AND (pos - isl_start) % 2 = 0 AS is_merge
        FROM mrk$k),
      cons$k AS (
        SELECT *, COALESCE(LAG(is_merge, 1) OVER (PARTITION BY w
                 ORDER BY pos), FALSE) AS consumed
        FROM mg$k),
      syms${k + 1} AS MATERIALIZED (
        SELECT w, f,
               ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
               CASE WHEN is_merge THEN a || b ELSE sym END AS sym
        FROM cons$k WHERE NOT consumed)"""

  /** ONE FULL BPE TRAINING ITERATION: count pairs → pick the top merge →
    * APPLY it greedily corpus-wide → recount. [[textBpeStep]] stops at the
    * argmax; this closes one trainer turn through the SHARED apply block
    * ([[bpeApplyTop]] / [[bpeRoundSql]]) — the run-to-convergence loop is
    * `text_bpe_train`.
    *
    * Scale: everything after the word-frequency reduction runs on DISTINCT
    * word types (the orders-of-magnitude collapse), windows partition by
    * word (bounded length), and the 1-row top pair is a broadcast — the
    * corpus is touched exactly once.
    */
  val textBpeApply = QueryDef(
    "text_bpe_apply",
    (spark, dir) => {
      val adj = bpeAdj(bpeChars(bpeWordFreqs(spark, dir)))
      val merged = bpeApplyTop(adj, bpeTopPair(adj).select(col("a"), col("b")))
      bpeAdj(merged).filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum(col("f")).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(20)
    },
    Some(s"""
      WITH $BpePrefixSql,
${bpeRoundSql(1)}
      SELECT sym AS a, nxt AS b, CAST(SUM(f) AS BIGINT) AS freq
      FROM (SELECT w, f, sym,
                   LEAD(sym, 1) OVER (PARTITION BY w ORDER BY pos) AS nxt
            FROM syms2)
      WHERE nxt IS NOT NULL
      GROUP BY sym, nxt
      ORDER BY freq DESC, a, b LIMIT 20"""),
    notes = "full BPE iteration: top merge applied greedily (parity-in-island windows, shared apply block), new pair table out")

  /** BPE TRAINING RUN TO CONVERGENCE — the trainer loop [[textBpeApply]]
    * demonstrates one turn of, driven to its stopping rule: keep taking the
    * argmax pair and applying it greedily until the best pair's frequency
    * decays below a QUARTER of the first merge's (a data-relative
    * threshold, so the same rule is meaningful at every SF), bounded by a
    * 14-merge guard. Output is the tokenizer artifact itself: the ordered
    * merge table (step, merged symbol, frequency) — measured 10 merges at
    * sf0.001/0.01 with the corpus's plateau structure (freq ~4.6k → ~1.8k
    * → ~950, and the rule cuts at the ~950 shelf).
    *
    * Loop discipline (the convergence-family contract): per round ONE
    * O(1)-result driver scalar — the argmax row, read for the stopping
    * check; the merge application itself stays symbolic (the 1-row top
    * frame is broadcast into the island/parity rewrite, exactly
    * textBpeApply's plan). The word-type frame is localCheckpointed per
    * round so plans stay bounded. The oracle unrolls the trainer to the
    * guard depth (generated SQL — 14 chained apply blocks, syms/top
    * MATERIALIZED against DuckDB's CTE re-inlining) and selects the
    * emitted rounds with the same running-threshold rule, so stop-at-k,
    * merge choices, AND frequencies are all one hash. Guard-hit stays
    * consistent by construction: both sides cap at the same depth.
    *
    * Scale: everything after the word-frequency collapse runs on DISTINCT
    * word types — the corpus is touched once per training run, not per
    * merge; rounds shuffle a frame bounded by vocabulary size.
    */
  // declared BEFORE textBpeTrain: the QueryDef forces bpeTrainOracle during
  // object init, which reads this — a later declaration would still be 0
  private val BpeTrainGuard = 14

  /** The trainer loop over an arbitrary word-frequency table (the spec
    * entry point — BpeTrainSpec drives hand-built corpora through it):
    * returns (per-merge 1-row top frames with step, the INITIAL char-level
    * symbol table, the FINAL symbol table after every applied merge,
    * merge count).
    */
  private[graft] def bpeTrainFromWf(wf: org.apache.spark.sql.DataFrame)
      : (Vector[org.apache.spark.sql.DataFrame],
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long) = {
    val syms0 = bpeChars(wf).localCheckpoint()
    var syms = syms0
    var f1 = 0L
    var merges = Vector.empty[org.apache.spark.sql.DataFrame]
    var done = false
    var k = 0
    while (!done && k < BpeTrainGuard) {
      k += 1
      val adj = bpeAdj(syms)
      val top = bpeTopPair(adj).localCheckpoint()
      top.collect().headOption match {
        case None => done = true // alphabet exhausted: no adjacent pairs
        case Some(r) =>
          val freq = r.getAs[Long]("freq")
          if (k == 1) f1 = freq
          if (freq * 4 < f1) done = true
          else {
            merges :+= top.withColumn("step", lit(k.toLong))
            val next = bpeApplyTop(adj, top).localCheckpoint()
            // the superseded round's symbol table is dead once its
            // successor is checkpointed (adj/top no longer read it) —
            // free its blocks now instead of pinning one word-type frame
            // per round until JVM death; syms0 survives (returned)
            if (!(syms eq syms0))
              org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(syms)
            syms = next
          }
      }
    }
    (merges, syms0, syms, merges.size.toLong)
  }

  /** Per-(session, dir) memo of the trainer run: `text_bpe_train` and
    * `text_bpe_encode` both need it, and a full registry pass should train
    * once, not once per consumer. The loop is deterministic and the memo
    * holds only checkpointed frames. Two boundaries keep it honest:
    * SPARK_GRAFT_BPE_COLD bypasses it entirely (so TimeQuery/ScaleEvidence
    * can still measure the true training cost — without the bypass their
    * warm pass would train and every timed rep would read the cache), and
    * the map clears itself past a small bound so a long-lived JVM touching
    * many fixtures doesn't pin checkpoint blocks (or dead sessions)
    * forever — entries are recomputable, clearing is always safe.
    */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String, Long),
    (Vector[org.apache.spark.sql.DataFrame],
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long)]()

  /** Content-shape stamp of the documents fixture — part of the memo key,
    * so an in-JVM fixture regeneration (same dir, new files) misses the
    * memo instead of serving the stale trainer state (r12 ADVICE low).
    * Folds file NAME, LENGTH, and mtime (plus the file count via the fold
    * seed) into one hash rather than taking max(mtime) alone: a
    * regeneration landing on the same millisecond tick, or a restore that
    * preserves mtimes, still changes names/byte-lengths and misses the
    * memo (r13 ADVICE low). Name-sorted so the fold is listing-order
    * independent.
    */
  private def bpeFixtureStamp(dir: String): Long = {
    val f = new java.io.File(s"$dir/documents.parquet")
    val kids = Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
    kids.foldLeft(f.lastModified ^ (kids.length.toLong << 48)) { (h, k) =>
      ((h * 1000003L) ^ k.getName.hashCode.toLong) * 31L +
        k.length * 7919L + k.lastModified
    }
  }

  /** Drop every memoized entry WITHOUT eagerly unpersisting — the
    * overflow-bound path. Deliberately reference-drop only (review
    * finding): an eager unpersist here races in-flight readers when
    * parallel test suites share the session-wide memo (unpersisting a
    * localCheckpoint forfeits recomputation, so a concurrent collect on
    * an evicted frame FAILS instead of recomputing — strictly worse than
    * the transient residue). Dropped references are not a JVM-lifetime
    * leak: RDD.persist registers with the ContextCleaner, which
    * unpersists unreachable RDDs at GC. Eager freeing lives in
    * [[bpeMemoEvict]], where the caller owns the fixture dir and no other
    * reader can hold it.
    */
  private[graft] def bpeMemoEvictAll(): Unit = bpeMemo.clear()

  /** Evict (and unpersist) only the entries trained on `dir` — the spec
    * hook: parallel suites share the session-wide memo, so a test that
    * called the blanket eviction could yank blocks out from under another
    * suite's in-flight bpe query.
    */
  private[graft] def bpeMemoEvict(dir: String): Unit = {
    val it = bpeMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._2 == dir) {
        val (merges, syms0, symsF, _) = e.getValue
        (merges :+ syms0 :+ symsF)
          .foreach(org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint)
        it.remove()
      }
    }
  }

  private[graft] def bpeTrainState(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Vector[org.apache.spark.sql.DataFrame],
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long) =
    if (sys.env.contains("SPARK_GRAFT_BPE_COLD"))
      bpeTrainFromWf(bpeWordFreqs(spark, dir))
    else {
      if (bpeMemo.size > 4) bpeMemoEvictAll()
      bpeMemo.computeIfAbsent((spark, dir, bpeFixtureStamp(dir)),
        _ => bpeTrainFromWf(bpeWordFreqs(spark, dir)))
    }

  val textBpeTrain = QueryDef(
    "text_bpe_train",
    (spark, dir) => {
      val (merges, syms0, _, _) = bpeTrainState(spark, dir)
      if (merges.isEmpty)
        // degenerate corpus (no adjacent pairs anywhere): empty merge
        // table with the right schema, matching the oracle's empty result
        syms0.select(lit(0L).as("step"), col("sym").as("merged"),
          col("f").as("freq")).limit(0)
      else merges.reduce(_ unionAll _)
        .select(col("step"), concat(col("a"), col("b")).as("merged"),
          col("freq"))
        .orderBy(col("step"))
    },
    Some(bpeTrainOracle),
    notes = "BPE trainer to convergence: argmax merge until freq*4 < first merge's freq, guard 14; output = the ordered merge table; oracle = trainer unrolled to guard depth with the same running-threshold emission rule")

  /** The generated trainer chain shared by both BPE oracles: the full
    * trainer unrolled to the guard depth. Each round is [[textBpeApply]]'s
    * CTE block verbatim (argmax → island/parity greedy apply → next symbol
    * table); `emitted` selects round k's merge iff every round ≤ k cleared
    * the freq·4 ≥ f1 threshold — the loop's break, stated as a running
    * window conjunction. syms/top are MATERIALIZED: each is referenced
    * twice per round and DuckDB would otherwise re-inline the whole chain
    * exponentially (the kcore-converge lesson). Produces a complete WITH
    * body ending in `emitted(step, a, b, freq)`; callers append their
    * tail.
    */
  private lazy val bpeChainSql: String = {
    val rounds = (1 to BpeTrainGuard).map(bpeRoundSql).mkString(",\n")
    val tops = (1 to BpeTrainGuard)
      .map(k => s"      SELECT $k AS step, a, b, freq FROM top$k")
      .mkString("\n      UNION ALL\n")
    s"""$BpePrefixSql,
$rounds,
      tops AS (
$tops),
      thr AS (SELECT freq AS v FROM top1),
      emitted AS (
        SELECT step, a, b, freq
        FROM tops, thr
        QUALIFY SUM(CASE WHEN freq * 4 < v THEN 1 ELSE 0 END)
                OVER (ORDER BY step ROWS UNBOUNDED PRECEDING) = 0)"""
  }

  private lazy val bpeTrainOracle: String =
    s"""
      WITH $bpeChainSql
      SELECT CAST(step AS BIGINT) AS step, a || b AS merged, freq
      FROM emitted
      ORDER BY step"""

  /** BPE ENCODE under the CONVERGED merges — the corpus statistics a
    * tokenizer decision reads: after the trainer's stopping rule picks
    * n merges, what vocabulary the symbol table carries and how far the
    * token stream compressed vs characters. One hash-gated row:
    * (n_merges, vocab_size, total_tokens, total_chars, compression_bp).
    * total_tokens = Σ word-frequency-weighted symbols; the word-type
    * collapse means encoding costs one corpus pass regardless of merge
    * count, the same scale posture as the trainer.
    *
    * The oracle reuses the trainer chain and must respect the STOP: the
    * guard-depth chain applies all 14 merges, so per-round stats are
    * emitted for every intermediate symbol table and the row at
    * after_merges = |emitted| is selected — the state the loop actually
    * stopped in, not the guard-depth state.
    */
  val textBpeEncode = QueryDef(
    "text_bpe_encode",
    (spark, dir) => {
      val (_, syms0, symsF, rounds) = bpeTrainState(spark, dir)
      symsF.agg(countDistinct(col("sym")).as("vocab_size"),
          sum(col("f")).as("total_tokens"))
        .crossJoin(broadcast(syms0.agg(sum(col("f")).as("total_chars"))))
        .select(lit(rounds).as("n_merges"),
          col("vocab_size"), col("total_tokens"), col("total_chars"),
          expr("(10000 * total_tokens) div total_chars").as("compression_bp"))
    },
    Some {
      val stats = (1 to BpeTrainGuard + 1)
        .map(k => s"      SELECT ${k - 1} AS after_merges," +
          s" CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab," +
          s" CAST(SUM(f) AS BIGINT) AS toks FROM syms$k")
        .mkString("\n      UNION ALL\n")
      s"""
      WITH $bpeChainSql,
      stop AS (SELECT CAST(COALESCE(MAX(step), 0) AS BIGINT) AS s FROM emitted),
      stats AS (
$stats),
      chars AS (SELECT CAST(SUM(f) AS BIGINT) AS total_chars FROM syms1)
      SELECT s AS n_merges, vocab AS vocab_size, toks AS total_tokens,
             total_chars, (10000 * toks) // total_chars AS compression_bp
      FROM stats JOIN stop ON after_merges = s, chars"""
    },
    notes = "encode stats under the CONVERGED merge set (not guard depth): vocab + weighted token count + compression bp, one hash-gated row; oracle selects the per-round stats row at the emitted-merge count")

  /** BPE SEGMENTATION — the tokenizer ARTIFACT (r11 ask #4): the per-word
    * ordered token sequence under the converged merge ranks, i.e. what an
    * inference-time tokenizer would emit for every word type in the
    * corpus. The trainer's final symbol table IS the segmentation (one row
    * per surviving position), so the query is a grouped ordered fold of
    * [[bpeTrainState]]'s exit state: (w, f, n_tokens, seg) with `seg` the
    * '|'-joined token list — words are [a-z]{2,} by construction
    * ([[bpeWordFreqs]]), so the delimiter cannot collide. Scale: word-type
    * frame, one pass, windows bounded by word length — the same collapse
    * as the trainer.
    *
    * The oracle reuses the unrolled trainer chain and must respect the
    * STOP (the guard-depth chain applies all 14 merges): every
    * intermediate symbol table is tagged with its merge count and the
    * table at after_merges = |emitted| is segmented — the state the loop
    * actually stopped in, exactly as `text_bpe_encode` selects its stats
    * row. BpeTrainSpec pins hand-corpus segmentations independently of
    * the oracle (the r11 shared-logic lesson), including the
    * overlapping-run corpus.
    */
  val textBpeSegment = QueryDef(
    "text_bpe_segment",
    (spark, dir) => {
      val (_, _, symsF, _) = bpeTrainState(spark, dir)
      bpeSegments(symsF)
    },
    Some {
      val segs = (1 to BpeTrainGuard + 1)
        .map(k => s"      SELECT ${k - 1} AS after_merges, w, f, pos, sym" +
          s" FROM syms$k")
        .mkString("\n      UNION ALL\n")
      s"""
      WITH $bpeChainSql,
      stop AS (SELECT CAST(COALESCE(MAX(step), 0) AS BIGINT) AS s FROM emitted),
      segs AS (
$segs)
      SELECT w, f, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             STRING_AGG(sym, '|' ORDER BY pos) AS seg
      FROM segs JOIN stop ON after_merges = s
      GROUP BY w, f
      ORDER BY w"""
    },
    notes = "per-word ordered token lists under the converged merge ranks — the inference-time tokenizer output; oracle segments the unrolled chain's symbol table at the emitted-merge count")

  /** Per-word ordered segmentation of a symbol table: (w, f, n_tokens,
    * '|'-joined tokens). The sort key is the struct's leading `pos`, so
    * the collect_list's nondeterministic arrival order is irrelevant.
    */
  private[graft] def bpeSegments(syms: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    syms.groupBy(col("w"), col("f"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("sym")))),
          s => s.getField("sym")), "|").as("seg"))
      .select(col("w"), col("f"), col("n_tokens"), col("seg"))
      .orderBy(col("w"))

  /** Gopher-style rule gate (Rae et al. 2021 §A1.1): the classic
    * pre-training quality filter as four independent pass/fail rules per
    * document — mean word length in [3,10], ≥80% of words contain an
    * alphabetic character, ≥2 distinct required stop words present, word
    * count in [50,100k] — reported as per-language fail counts per rule
    * plus the docs surviving all four. Every threshold is an integer
    * cross-multiplication (`3·n_tok ≤ n_nonspace`, `5·n_alpha ≥ 4·n_tok`),
    * so no float boundary can flip a rule cross-engine. The required-word
    * list is adapted to the fixture's 31-word vocabulary (only `the`/`a`
    * of Gopher's originals occur); the ≥2-distinct semantics are Gopher's.
    *
    * Scale: one narrow codegen'd pass over the corpus (split + two
    * higher-order filters, all row-local) into a 5-key hash agg — no wide
    * shuffle, linear to 100 TB.
    */
  val textGopherRules = QueryDef(
    "text_gopher_rules",
    (spark, dir) => {
      val toks = split(col("text"), " ")
      val reqWords = Seq("the", "a", "and", "of", "in", "to")
      val m = load(spark, dir, "documents")
        .select(col("lang"),
          size(toks).cast("long").as("n_tok"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("n_nonspace"),
          size(filter(toks, w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
          size(array_intersect(array_distinct(toks),
            array(reqWords.map(lit): _*))).cast("long").as("n_reqstop"))
        .select(col("lang"),
          (lit(3) * col("n_tok") <= col("n_nonspace") &&
            col("n_nonspace") <= lit(10) * col("n_tok")).as("p_wordlen"),
          (lit(5) * col("n_alpha") >= lit(4) * col("n_tok")).as("p_alpha"),
          (col("n_reqstop") >= 2).as("p_stop"),
          col("n_tok").between(50, 100000).as("p_count"))
      m.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(!col("p_wordlen"), 1)).as("fail_wordlen"),
          count(when(!col("p_alpha"), 1)).as("fail_alpha"),
          count(when(!col("p_stop"), 1)).as("fail_stop"),
          count(when(!col("p_count"), 1)).as("fail_count"),
          count(when(col("p_wordlen") && col("p_alpha") && col("p_stop") &&
            col("p_count"), 1)).as("n_kept"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH s AS (
        SELECT lang,
               string_split(text, ' ') AS t,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
        FROM documents),
      m AS (
        SELECT lang, n_nonspace,
               CAST(len(t) AS BIGINT) AS n_tok,
               CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
               CAST(len(list_intersect(list_distinct(t),
                 ['the','a','and','of','in','to'])) AS BIGINT) AS n_reqstop
        FROM s),
      r AS (
        SELECT lang,
               (3 * n_tok <= n_nonspace AND n_nonspace <= 10 * n_tok) AS p_wordlen,
               (5 * n_alpha >= 4 * n_tok) AS p_alpha,
               (n_reqstop >= 2) AS p_stop,
               (n_tok BETWEEN 50 AND 100000) AS p_count
        FROM m)
      SELECT lang, COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE NOT p_wordlen) AS fail_wordlen,
             COUNT(*) FILTER (WHERE NOT p_alpha) AS fail_alpha,
             COUNT(*) FILTER (WHERE NOT p_stop) AS fail_stop,
             COUNT(*) FILTER (WHERE NOT p_count) AS fail_count,
             COUNT(*) FILTER (WHERE p_wordlen AND p_alpha AND p_stop AND p_count) AS n_kept
      FROM r GROUP BY lang ORDER BY lang"""),
    notes = "Gopher rule gate: integer-cross-multiplied thresholds, per-lang per-rule attrition")

  /** Character-diversity / repetitiveness signal without logarithms: the
    * Rényi-2 (collision) diversity of the per-document character
    * distribution. True Shannon entropy needs `log`, whose last-ulp
    * behavior differs across engines and would break hash-exact compare
    * (same reason `text_bigram_lm` avoids -log p); `Σ count²` is an exact
    * integer carrying the same repetitive-vs-diverse ordering signal
    * (collision probability = Σp², monotone in Rényi-2 entropy).
    *
    * Scale design: NO explode. A per-row higher-order `aggregate` over the
    * sorted character array computes run lengths, Σrun², distinct count and
    * max run in one pass — the corpus never leaves its input partitions and
    * the char-multiplied row blowup of the explode shape (×~250 rows/doc
    * here, ×doc_len in general) never exists. The DuckDB oracle uses the
    * explode shape (fine at oracle scale) — the numbers are exact integers
    * either way.
    */
  val textCharDiversity = QueryDef(
    "text_char_diversity",
    (spark, dir) => {
      val runStats = expr("""
        aggregate(
          array_sort(split(replace(text, ' ', ''), '')),
          named_struct('prev', '', 'run', 0L, 'sumsq', 0L, 'ndis', 0L, 'mx', 0L),
          (acc, c) -> IF(c = acc.prev,
            named_struct('prev', c, 'run', acc.run + 1L, 'sumsq', acc.sumsq,
                         'ndis', acc.ndis, 'mx', acc.mx),
            named_struct('prev', c, 'run', 1L,
                         'sumsq', acc.sumsq + acc.run * acc.run,
                         'ndis', acc.ndis + 1L,
                         'mx', greatest(acc.mx, acc.run))),
          acc -> named_struct('sumsq', acc.sumsq + acc.run * acc.run,
                              'ndis', acc.ndis, 'mx', greatest(acc.mx, acc.run)))""")
      load(spark, dir, "documents")
        .select(col("doc_id"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("n_chars"),
          runStats.as("d"))
        // empty/whitespace-only docs: n_chars = 0 would divide by zero
        // (ANSI error) where the oracle's unnest simply emits no row —
        // filter them on this side so both engines agree on the row set
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          col("d.ndis").as("n_distinct"),
          col("d.sumsq").as("sum_sq"),
          expr("(d.sumsq * 10000) DIV (n_chars * n_chars)").as("collision_bp"),
          expr("(d.mx * 10000) DIV n_chars").as("top_char_bp"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH c AS (
        SELECT doc_id, unnest(string_split(replace(text, ' ', ''), '')) AS ch
        FROM documents),
      g AS (SELECT doc_id, ch, COUNT(*) AS n FROM c GROUP BY 1, 2)
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(n * n) AS BIGINT) AS sum_sq,
             CAST(SUM(n * n) * 10000 // (SUM(n) * SUM(n)) AS BIGINT) AS collision_bp,
             CAST(MAX(n) * 10000 // SUM(n) AS BIGINT) AS top_char_bp
      FROM g GROUP BY doc_id ORDER BY doc_id"""),
    notes = "Rényi-2 collision diversity: log-free exact-integer repetitiveness; run-length HOF, no explode")

  val all: Seq[QueryDef] = Seq(textTokens, textQuality, dedupComponents,
    dedupKeepBest, textNormalize, textNgrams, textChunk, textBigramLm,
    textBpeStep, corpusOverlapMatrix, textLmCoverage, textBpeApply,
    textBpeTrain, textBpeEncode, textBpeSegment, textGopherRules,
    textCharDiversity)
}
