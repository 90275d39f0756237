package graft.ops

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.{cents, exactDiv, load}

/** Fourth-wave scalar/aggregate function coverage: regex, date/time
  * arithmetic, null handling, bitwise + cryptographic hashes, ordered
  * collect/string-agg, exact percentiles, and distributed second moments
  * (corr/stddev) computed from exact integer sums.
  *
  * Everything stays inside whole-stage codegen (builtin expressions only);
  * every float output is a fixed-shape IEEE expression over exact longs so
  * the DuckDB oracle reproduces it bit-for-bit.
  */
object FunctionQueries {

  /** Regex battery: extract / extract-all count / match flag. Patterns stick
    * to character-class + anchor constructs whose semantics agree between
    * Java regex (Spark) and RE2 (DuckDB).
    */
  val regexFuncs = QueryDef(
    "regex_funcs",
    (spark, dir) => {
      load(spark, dir, "part")
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
          size(regexp_extract_all(col("p_name"), lit("[aeiou]+"), lit(0)))
            .cast("long").as("n_vowel_runs"),
          col("p_name").rlike("^[bs]").cast("int").as("starts_bs"),
          regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_word"))
        .orderBy(col("p_partkey"))
    },
    Some("""
      SELECT p_partkey,
             regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
             CAST(len(regexp_extract_all(p_name, '[aeiou]+')) AS BIGINT) AS n_vowel_runs,
             CAST(regexp_matches(p_name, '^[bs]') AS INTEGER) AS starts_bs,
             regexp_extract(p_type, '^([A-Z]+)', 1) AS type_word
      FROM part
      ORDER BY p_partkey"""))

  /** Date/time battery 2: truncation, calendar fields, day diffs against a
    * fixed anchor, month arithmetic with end-of-month clamping, last_day.
    * All formatted to strings / exact ints so both engines emit identical
    * cells.
    */
  val datetimeFuncs = QueryDef(
    "datetime_funcs",
    (spark, dir) => {
      load(spark, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          quarter(col("o_orderdate")).as("qtr"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_anchor"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3mo"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          dayofmonth(col("o_orderdate")).as("dom"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
             CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
             date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_anchor,
             strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
             strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
             CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS dom
      FROM orders
      WHERE o_orderkey % 10 = 0
      ORDER BY o_orderkey"""))

  /** Null-handling battery: nullif / coalesce / null-safe equality / null
    * counting semantics (COUNT(col) skips nulls, COUNT(*) doesn't).
    */
  val nullFuncs = QueryDef(
    "null_funcs",
    (spark, dir) => {
      val c = load(spark, dir, "customer")
        .withColumn("seg_nb", nullif(col("c_mktsegment"), lit("BUILDING")))
        .withColumn("pos_bal",
          when(col("c_acctbal") >= 0, cents(col("c_acctbal"))))
      c.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_total"),
          count(col("seg_nb")).as("n_nonbuilding"),
          count(col("pos_bal")).as("n_pos"),
          sum(coalesce(col("pos_bal"), lit(0L))).as("pos_cents"),
          countDistinct(col("seg_nb")).as("n_seg_nb"),
          sum((col("seg_nb") <=> lit(null)).cast("long")).as("n_building"))
        .orderBy(col("c_nationkey"))
    },
    Some("""
      SELECT c_nationkey, COUNT(*) AS n_total,
             COUNT(NULLIF(c_mktsegment, 'BUILDING')) AS n_nonbuilding,
             COUNT(CASE WHEN c_acctbal >= 0 THEN 1 END) AS n_pos,
             CAST(SUM(COALESCE(CASE WHEN c_acctbal >= 0
                 THEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) END, 0)) AS BIGINT) AS pos_cents,
             COUNT(DISTINCT NULLIF(c_mktsegment, 'BUILDING')) AS n_seg_nb,
             CAST(SUM(CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_building
      FROM customer
      GROUP BY c_nationkey
      ORDER BY c_nationkey"""))

  /** Bitwise + cryptographic-hash battery over key columns (exact integer
    * semantics; md5/sha256 hex digests are identical across engines).
    */
  val bitHashFuncs = QueryDef(
    "bit_hash_funcs",
    (spark, dir) => {
      load(spark, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          (col("o_orderkey").bitwiseAND(255)).as("key_and"),
          (col("o_orderkey").bitwiseOR(col("o_custkey"))).as("key_or"),
          (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("key_xor"),
          shiftleft(col("o_orderkey"), 3).as("key_shl3"),
          shiftright(col("o_orderkey"), 2).as("key_shr2"),
          md5(concat(col("o_orderstatus"), col("o_orderkey").cast("string"))
            .cast("binary")).as("row_md5"),
          sha2(col("o_orderpriority").cast("binary"), 256).as("prio_sha256"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             o_orderkey & 255 AS key_and,
             o_orderkey | o_custkey AS key_or,
             xor(o_orderkey, o_custkey) AS key_xor,
             o_orderkey << 3 AS key_shl3,
             o_orderkey >> 2 AS key_shr2,
             md5(o_orderstatus || CAST(o_orderkey AS VARCHAR)) AS row_md5,
             sha256(o_orderpriority) AS prio_sha256
      FROM orders
      WHERE o_orderkey % 100 = 0
      ORDER BY o_orderkey"""))

  /** Distributed second moments: corr and sample stddev computed from exact
    * integer sums (n, Σx, Σy, Σx², Σy², Σxy over scaled-int columns), with
    * the final float formula shaped identically on both engines — the
    * map-side-combinable way to get exact reproducible statistics at any
    * scale (builtin corr/stddev accumulate floats in partition order and are
    * not cross-engine reproducible).
    */
  val statsMoments = QueryDef(
    "stats_moments",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          cents(col("l_quantity")).as("x"),
          floor(col("l_extendedprice") + lit(0.5)).cast("long").as("y"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
          ((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
             sqrt(col("n").cast("double") * col("syy").cast("double") -
               col("sy").cast("double") * col("sy").cast("double")))).as("corr_qty_price"),
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * (col("n").cast("double") - 1))).as("stddev_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH m AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM (SELECT l_returnflag,
                     CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
                     CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
              FROM lineitem)
        GROUP BY l_returnflag)
      SELECT l_returnflag, n, CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS corr_qty_price,
             sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                  (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) AS stddev_qty
      FROM m
      ORDER BY l_returnflag"""))

  /** Ordered collect: per-status sorted-distinct string agg + bounded sample
    * of order keys — deterministic because both sides sort before
    * concatenating.
    */
  val aggCollect = QueryDef(
    "agg_collect",
    (spark, dir) => {
      load(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
            .as("priorities"),
          concat_ws(",", slice(array_sort(collect_set(
            when(col("o_orderkey") % 1000 === 0, col("o_orderkey")))), 1, 5)
            .cast("array<string>")).as("sample_keys"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus,
             string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
             COALESCE(array_to_string(
               (list_sort(list(DISTINCT o_orderkey)
                  FILTER (WHERE o_orderkey % 1000 = 0)))[1:5], ','), '') AS sample_keys,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** Struct ordering as distributed argmin/argmax: `min(struct(ts, id))`
    * rides the ordinary partial+final aggregate path — no window, no shuffle
    * beyond the groupBy — and the trailing id field makes ties exact. The
    * per-event first/last lookup every sessionization and attribution job
    * needs, in one aggregate. Oracle uses an independent window formulation.
    */
  val structArgminmax = QueryDef(
    "struct_funcs",
    (spark, dir) => {
      load(spark, dir, "events")
        .filter(col("user_id") % 15 === 0)
        .groupBy(col("user_id"))
        .agg(
          min(struct(col("ts"), col("event_id"))).as("first"),
          max(struct(col("ts"), col("event_id"))).as("last"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("first.event_id").as("first_event_id"),
          col("first.ts").as("first_ts"),
          col("last.event_id").as("last_event_id"),
          col("last.ts").as("last_ts"),
          col("n_events"))
        .orderBy(col("user_id"))
    },
    Some("""
      -- rank and emit on epoch_us, not raw ts: an ns-preserving DuckDB would
      -- rank same-us events by ns residue before the event_id tiebreak and
      -- emit ns-residue timestamps Spark's us events cannot match
      WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id
                 FROM events WHERE user_id % 15 = 0),
      r AS (SELECT user_id, tus, event_id,
              ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS ra,
              ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus DESC, event_id DESC) AS rd
            FROM e)
      SELECT user_id,
             MAX(event_id) FILTER (WHERE ra = 1) AS first_event_id,
             make_timestamp(MAX(tus) FILTER (WHERE ra = 1)) AS first_ts,
             MAX(event_id) FILTER (WHERE rd = 1) AS last_event_id,
             make_timestamp(MAX(tus) FILTER (WHERE rd = 1)) AS last_ts,
             COUNT(*) AS n_events
      FROM r
      GROUP BY user_id
      ORDER BY user_id"""))

  /** approx_percentile (GK sketch) over order values. The sketch VALUE is
    * merge-order-dependent, but its RANK contract is checkable: re-rank each
    * sketch output against the data (one extra aggregate over a broadcast
    * 1-row sketch result). A returned value q occupies the whole rank
    * interval [count(p<q)+1, count(p<=q)] — on duplicate-heavy columns that
    * interval is wide, and checking only count(p<=q) would falsely fail a
    * correct sketch whose q is a heavy value straddling the target. The
    * check therefore asserts the INTERVAL INTERSECTS the ±2% band around
    * the target rank — integer arithmetic only, stated by the oracle as the
    * constant 1, with n fully verified. GK at accuracy 10000 guarantees
    * rank error ≤ n/10000, so the band is deterministic. ApproxSpec pins
    * the tighter ±1% value contract. This is the scale path for quantiles —
    * one pass, fixed memory — next to `quantiles_exact`'s rank-position
    * formulation.
    */
  val aggApproxQuantile = QueryDef(
    "agg_approx_quantile",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem").select(col("l_extendedprice").as("p"))
      val sketch = li.agg(percentile_approx(col("p"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("q"))
      val ranked = li.crossJoin(broadcast(sketch))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("p") < col("q")(0), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("p") <= col("q")(0), 1L).otherwise(0L)).as("le50"),
          sum(when(col("p") < col("q")(1), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("p") <= col("q")(1), 1L).otherwise(0L)).as("le90"),
          sum(when(col("p") < col("q")(2), 1L).otherwise(0L)).as("lt99"),
          sum(when(col("p") <= col("q")(2), 1L).otherwise(0L)).as("le99"))
      // [lt+1, le] ∩ [n·(t−20)/1000, n·(t+20)/1000] ≠ ∅, in thousandths
      def ok(lt: String, le: String, t: Int) =
        ((col(lt) + 1) * 1000 <= col("n") * (t + 20) &&
          col(le) * 1000 >= col("n") * (t - 20)).cast("int")
      ranked.select(col("n"),
        ok("lt50", "le50", 500).as("p50_ok"),
        ok("lt90", "le90", 900).as("p90_ok"),
        ok("lt99", "le99", 990).as("p99_ok"))
    },
    Some("""
      SELECT COUNT(*) AS n, 1 AS p50_ok, 1 AS p90_ok, 1 AS p99_ok
      FROM lineitem"""))

  /** Mode (most frequent value) per group with a deterministic tiebreak:
    * count per (group, value), then `max(struct(cnt, value))` on the
    * aggregate path — no window, ties resolve to the lexicographically
    * largest value identically in both engines.
    */
  val aggMode = QueryDef(
    "agg_mode",
    (spark, dir) => {
      load(spark, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_orderstatus"))
        .agg(max(struct(col("cnt"), col("o_orderpriority"))).as("m"),
          count(lit(1)).as("n_distinct_priorities"))
        .select(col("o_orderstatus"),
          col("m.o_orderpriority").as("mode_priority"),
          col("m.cnt").as("mode_cnt"),
          col("n_distinct_priorities"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      WITH c AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY o_orderstatus, o_orderpriority),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                 ORDER BY cnt DESC, o_orderpriority DESC) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderstatus) AS nd
        FROM c)
      SELECT o_orderstatus, o_orderpriority AS mode_priority,
             cnt AS mode_cnt, nd AS n_distinct_priorities
      FROM r WHERE rn = 1
      ORDER BY o_orderstatus"""))

  /** ANSI-safety battery: Spark 4 runs ANSI mode by default, where overflow,
    * bad casts and invalid array indexes THROW — `try_*` is the sanctioned
    * way to keep a pipeline total. Each column exercises one failure class
    * (zero division, BIGINT overflow on add and multiply — the multiply
    * straddles the boundary: 3037000499·3037000500 still fits in a Long,
    * one more and it overflows to null, so BOTH outcomes appear in the
    * output — non-numeric cast, out-of-bounds element); the oracle states
    * the null outcomes explicitly (DuckDB would error or diverge on several
    * of these, so the CASE guards ARE the cross-engine semantics).
    */
  val tryFuncs = QueryDef(
    "try_funcs",
    (spark, dir) => {
      load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
      spark.sql("""
        SELECT l_orderkey, l_linenumber,
               try_divide(CAST(floor(l_quantity) AS BIGINT), l_linenumber - 1)
                 AS div_maybe,
               try_add(9223372036854775807, l_orderkey) AS add_overflow,
               try_multiply(3037000499, CAST(3037000499 + l_linenumber AS BIGINT))
                 AS mul_overflow,
               try_cast(l_returnflag AS INT) AS flag_int,
               try_element_at(array(1, 2, 3), CAST(l_linenumber + 10 AS INT))
                 AS elem_missing
        FROM lineitem
        WHERE l_orderkey % 100 = 0
        ORDER BY l_orderkey, l_linenumber, div_maybe NULLS FIRST""")
    },
    Some("""
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_linenumber = 1 THEN NULL
                  ELSE CAST(floor(l_quantity) AS BIGINT) / (l_linenumber - 1)
                  END AS div_maybe,
             CASE WHEN l_orderkey > 0 THEN NULL
                  ELSE 9223372036854775807 END AS add_overflow,
             CASE WHEN l_linenumber = 1 THEN 9223372033963249500
                  ELSE CAST(NULL AS BIGINT) END AS mul_overflow,
             TRY_CAST(l_returnflag AS INT) AS flag_int,
             ([1, 2, 3])[l_linenumber + 10] AS elem_missing
      FROM lineitem
      WHERE l_orderkey % 100 = 0
      ORDER BY l_orderkey, l_linenumber, div_maybe NULLS FIRST"""))

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other instead of vanishing — the semantics MERGE/dedup pipelines
    * need when the join key is legitimately nullable. Plans as an ordinary
    * hash join (null-safe equality is still an equi key, NOT a nested
    * loop); the per-key aggregates on both sides keep the demo O(keys).
    */
  val joinNullSafe = QueryDef(
    "join_null_safe",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem")
      def keyed(mod: Int) = li.filter(col("l_orderkey") % mod === 0)
        .groupBy(expr("nullif(l_returnflag, 'N')").as("k"))
        .agg(count(lit(1)).as("n"))
      val a = keyed(10).select(col("k"), col("n").as("n_a"))
      val b = keyed(7).select(col("k").as("kb"), col("n").as("n_b"))
      a.join(b, a("k") <=> b("kb"))
        .select(col("k"), col("n_a"), col("n_b"))
        .orderBy(col("k").asc_nulls_first)
    },
    Some("""
      WITH a AS (
        SELECT nullif(l_returnflag, 'N') AS k, COUNT(*) AS n_a
        FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY 1),
      b AS (
        SELECT nullif(l_returnflag, 'N') AS k, COUNT(*) AS n_b
        FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY 1)
      SELECT a.k, n_a, n_b
      FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      ORDER BY a.k NULLS FIRST"""))

  /** EXACT distinct counting via mergeable bitmaps (`bitmap_bit_position` →
    * per-bucket `bitmap_construct_agg` → `bitmap_count`, summed per group) —
    * Spark's native form of the roaring-bitmap pattern every OLAP cube uses
    * for COUNT(DISTINCT) that must stay exact AND pre-aggregatable. Unlike
    * `count(distinct x)` (whose distinct-expand shuffles every distinct
    * value to one reducer per group), the bitmap partial-aggregates
    * map-side into ≤4 KB buckets keyed by (group, bucket_no), merges with
    * OR, and — the real point at 100 TB — can be MATERIALIZED per
    * partition/day and re-merged later without re-scanning the fact. The
    * oracle is plain COUNT(DISTINCT): the bitmap path must be bit-exact,
    * not approximate.
    */
  val aggBitmapDistinct = QueryDef(
    "agg_bitmap_distinct",
    (spark, dir) => {
      load(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"))
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bucket"))
        .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_partkey)))")
          .as("bucket_distinct"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("bucket_distinct")).as("n_distinct_parts"),
          count(lit(1)).as("n_buckets"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      WITH buckets AS (
        -- Spark's bucketing: x > 0 -> floor((x-1)/32768)+1, x <= 0 -> bucket 0
        SELECT l_returnflag,
               CASE WHEN l_partkey > 0 THEN (l_partkey - 1) // 32768 + 1
                    ELSE 0 END AS bucket,
               COUNT(DISTINCT l_partkey) AS bucket_distinct
        FROM lineitem
        GROUP BY 1, 2)
      SELECT l_returnflag,
             CAST(SUM(bucket_distinct) AS BIGINT) AS n_distinct_parts,
             COUNT(*) AS n_buckets
      FROM buckets
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    notes = "mergeable-bitmap exact distinct; oracle mirrors Spark's 32768-wide buckets incl. the x<=0 bucket-0 rule")

  /** HLL sketch SET ALGEBRA (Datasketches `hll_sketch_agg` / `hll_union` /
    * `hll_sketch_estimate`): distinct counts of two sets, their union via
    * sketch MERGE (never re-scanning the fact), and their intersection via
    * inclusion–exclusion — the sketch-algebra workflow behind audience
    * overlap / contamination-rate dashboards. Mergeability is the 100 TB
    * point: per-partition sketches union associatively, so |A∪B| costs one
    * byte-array merge. Same oracle strategy as `agg_approx`: exact distinct
    * counts as ground truth plus integer within-band flags the oracle
    * states as constant 1 (±5% per sketch, ±10% for the subtracted
    * intersection where errors compound).
    *
    * As in `agg_approx`, the exact counts and the sketches are two global
    * aggregates over the same scan, cross-joined (each is one row): in one
    * aggregate Spark's distinct rewrite carries the four sketch buffers
    * through every (distinct key) bucket of its first phase.
    */
  val aggHllSetops = QueryDef(
    "agg_hll_setops",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem").select(col("l_returnflag"), col("l_partkey"))
      val exact = li.agg(
        expr("count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_partkey END)").as("exact_a"),
        expr("count(DISTINCT CASE WHEN l_returnflag = 'N' THEN l_partkey END)").as("exact_b"),
        expr("count(DISTINCT CASE WHEN l_returnflag IN ('R','N') THEN l_partkey END)").as("exact_union"))
      val sketch = li.agg(
        expr("hll_sketch_estimate(hll_sketch_agg(CASE WHEN l_returnflag = 'R' THEN l_partkey END))").as("est_a"),
        expr("hll_sketch_estimate(hll_sketch_agg(CASE WHEN l_returnflag = 'N' THEN l_partkey END))").as("est_b"),
        expr("""hll_sketch_estimate(hll_union(
             hll_sketch_agg(CASE WHEN l_returnflag = 'R' THEN l_partkey END),
             hll_sketch_agg(CASE WHEN l_returnflag = 'N' THEN l_partkey END)))""").as("est_u"))
      exact.crossJoin(sketch)
        .select(col("exact_a"), col("exact_b"), col("exact_union"),
          (col("exact_a") + col("exact_b") - col("exact_union")).as("exact_intersect"),
          (abs(col("est_a") - col("exact_a")) * 100 <= col("exact_a") * 5)
            .cast("long").as("ok_a"),
          (abs(col("est_b") - col("exact_b")) * 100 <= col("exact_b") * 5)
            .cast("long").as("ok_b"),
          (abs(col("est_u") - col("exact_union")) * 100 <= col("exact_union") * 5)
            .cast("long").as("ok_union"),
          (abs((col("est_a") + col("est_b") - col("est_u")) -
            (col("exact_a") + col("exact_b") - col("exact_union"))) * 100
            <= (col("exact_a") + col("exact_b") - col("exact_union")) * 10)
            .cast("long").as("ok_intersect"))
    },
    Some("""
      SELECT
        COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_partkey END) AS exact_a,
        COUNT(DISTINCT CASE WHEN l_returnflag = 'N' THEN l_partkey END) AS exact_b,
        COUNT(DISTINCT CASE WHEN l_returnflag IN ('R','N') THEN l_partkey END) AS exact_union,
        CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_partkey END)
           + COUNT(DISTINCT CASE WHEN l_returnflag = 'N' THEN l_partkey END)
           - COUNT(DISTINCT CASE WHEN l_returnflag IN ('R','N') THEN l_partkey END)
           AS BIGINT) AS exact_intersect,
        1 AS ok_a, 1 AS ok_b, 1 AS ok_union, 1 AS ok_intersect
      FROM lineitem"""),
    notes = "Datasketches HLL union + inclusion-exclusion intersection, band-flagged vs exact")

  /** Exact OLS on the aggregate path: per event type, the least-squares
    * slope/intercept of daily revenue cents against the day index, from the
    * five integer sufficient statistics (n, Σx, Σy, Σxy, Σx²) — the
    * regression twin of [[statsMoments]]. One shuffle computes the sums
    * with map-side partials; the closed-form coefficients are TWO IEEE
    * divisions of exact BIGINTs (numerators/denominators emitted too, so
    * the float step is auditable). Trend fitting over 100 TB of telemetry
    * is exactly this shape: sufficient statistics distribute, the algebra
    * does not need the data again.
    *
    * Overflow bound (the events_ab_test lesson): with day index ≤ D and
    * daily sums ≤ Y cents, n·Σxy ≤ D³·Y — safe in Int64 for D ≤ ~3 000
    * days at Y ≤ 2⁴⁰; for longer spans, center x at Σx/n (or widen to
    * DECIMAL(38,0) as events_ab_test does) before the cross products.
    */
  val aggLinreg = QueryDef(
    "agg_linreg",
    (spark, dir) => {
      val daily = load(spark, dir, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
            .cast("long").as("x"))
        .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("y"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("slope_num", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
        .select(col("event_type"), col("n"), col("slope_num"), col("den"),
          (col("slope_num").cast("double") / col("den").cast("double"))
            .as("slope"),
          ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
            col("den").cast("double")).as("intercept"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
        FROM events GROUP BY 1, 2),
      s AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM daily GROUP BY event_type)
      SELECT event_type, n,
             n * sxy - sx * sy AS slope_num,
             n * sxx - sx * sx AS den,
             CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS intercept
      FROM s ORDER BY event_type"""),
    notes = "OLS from integer sufficient statistics over the daily rollup; two audited IEEE divisions")

  /** Declarative SQL UDFs (Spark 4 `CREATE FUNCTION … RETURN expr`) — the
    * third extension path next to native Catalyst expressions and typed
    * Aggregators, and the only one a pure-SQL user can reach. Unlike a
    * Scala/Python UDF these are INLINED by the analyzer: the executed plan
    * contains the substituted expression, not a black-box call — predicate
    * pushdown, constant folding, and whole-stage codegen all still apply,
    * so the engine's "zero opaque UDFs" property survives user-defined
    * helpers. Exercised here: two scalar functions (row level AND re-used
    * over aggregated columns — one definition, both call sites) plus a SQL
    * TABLE function parameterized by a foldable literal, consumed like any
    * relation. `CREATE OR REPLACE TEMPORARY` keeps re-runs in a warm
    * session idempotent. The oracle states the inlined expressions
    * directly — which is precisely the semantics inlining guarantees.
    */
  val sqlUdfFuncs = QueryDef(
    "sql_udf_funcs",
    (spark, dir) => {
      load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
      load(spark, dir, "part").createOrReplaceTempView("part")
      spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION cents_of(x DOUBLE)
        RETURNS BIGINT RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)""")
      spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION share_bp(a BIGINT, b BIGINT)
        RETURNS BIGINT RETURN (10000 * a) DIV GREATEST(b, 1)""")
      spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION brand_parts(b STRING)
        RETURNS TABLE (p_partkey BIGINT, p_retailprice DOUBLE)
        RETURN SELECT p_partkey, p_retailprice FROM part WHERE p_brand = b""")
      spark.sql("""
        SELECT l.l_returnflag,
               COUNT(*) AS n_lines,
               SUM(cents_of(l.l_extendedprice)) AS gross_cents,
               SUM(cents_of(l.l_extendedprice * (1 - l.l_discount)))
                 AS net_cents,
               share_bp(SUM(cents_of(l.l_extendedprice * (1 - l.l_discount))),
                        SUM(cents_of(l.l_extendedprice))) AS net_share_bp,
               SUM(cents_of(bp.p_retailprice)) AS brand_retail_cents
        FROM lineitem l
        JOIN brand_parts('Brand#11') bp ON l.l_partkey = bp.p_partkey
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag""")
    },
    Some("""
      SELECT l.l_returnflag,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS gross_cents,
             CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
               + 0.5) AS BIGINT)) AS BIGINT) AS net_cents,
             CAST((10000 * SUM(CAST(floor(l.l_extendedprice
                 * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)))
               // GREATEST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5)
                 AS BIGINT)), 1) AS BIGINT) AS net_share_bp,
             CAST(SUM(CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS brand_retail_cents
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#11'
      GROUP BY l.l_returnflag
      ORDER BY l.l_returnflag"""),
    notes = "Spark 4 SQL UDFs: analyzer-inlined scalar + table functions, oracle = the inlined expressions")

  /** Parameterized SQL — `spark.sql(text, args)` with NAMED (`:name`) and
    * POSITIONAL (`?`) parameter markers, the injection-safe way to template
    * a query over user input (string concatenation is the alternative, and
    * it is how SQL injection happens). Binding occurs at parse time, so the
    * bound values behave exactly like literals downstream: they constant-
    * fold, they reach the scan as PushedFilters, and the plan is
    * indistinguishable from the hand-written query — which the shared
    * oracle (both bands restated as a literal VALUES join) pins. One band
    * per marker style so both APIs sit in the hash gate.
    */
  val sqlParameterized = QueryDef(
    "sql_parameterized",
    (spark, dir) => {
      load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
      val named = spark.sql(
        """SELECT :label AS band, l_returnflag, COUNT(*) AS n,
                  SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS cents
           FROM lineitem
           WHERE l_quantity BETWEEN :lo AND :hi
           GROUP BY l_returnflag""",
        Map("label" -> "low", "lo" -> 1, "hi" -> 10))
      val positional = spark.sql(
        """SELECT ? AS band, l_returnflag, COUNT(*) AS n,
                  SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS cents
           FROM lineitem
           WHERE l_quantity BETWEEN ? AND ?
           GROUP BY l_returnflag""",
        Array("high", 40, 50))
      named.unionAll(positional)
        .orderBy(col("band"), col("l_returnflag"))
    },
    Some("""
      WITH bands AS (
        SELECT 'low' AS band, 1 AS lo, 10 AS hi
        UNION ALL SELECT 'high', 40, 50)
      SELECT b.band, l.l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
      FROM lineitem l JOIN bands b ON l.l_quantity BETWEEN b.lo AND b.hi
      GROUP BY b.band, l.l_returnflag
      ORDER BY band, l_returnflag"""),
    notes = "parameterized SQL: named (:name) + positional (?) markers bound at parse time — injection-safe templating whose bound values still fold and push down like literals")

  /** XML scalar functions (Spark 4: `to_xml`/`from_xml` plus the classic
    * xpath family) — the per-column twin of the file-level XML roundtrip in
    * `source_format_roundtrip`. DuckDB has no XML functions, so the oracle
    * strategy is the roundtrip-identity one used for the sketch queries:
    * serialize each event's (event_type, cents) struct with `to_xml`,
    * parse it back with `from_xml` AND extract fields with `xpath_string`/
    * `xpath_long`, then aggregate ONLY roundtripped values plus mismatch
    * counters the oracle states as the constant 0 — any serializer/parser
    * disagreement (escaping, whitespace, numeric formatting) surfaces as a
    * nonzero counter or a drifted group, both hash-breaking.
    */
  val xmlFuncs = QueryDef(
    "xml_funcs",
    (spark, dir) => {
      // serialize+parse+2 xpath per row is row-local-heavy: spread the
      // single-file fixture scan before it or it all runs in ONE task
      // (TimeQuery's profile line measured max1taskS 1.30 s; no-op on
      // cluster scans)
      val base = graft.Tables.spreadIfNarrow(load(spark, dir, "events")
          .select(col("event_type"), cents(col("value")).as("cents_in")))
        .withColumn("x", to_xml(struct(col("event_type"), col("cents_in"))))
        .withColumn("rt", from_xml(col("x"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_type STRING, cents_in BIGINT"),
          // the XML read contract the escaping law pins: default
          // ignoreSurroundingSpaces=true would trim padded corpus values,
          // making rt.event_type regroup under the trimmed key while the
          // oracle groups by the raw one
          scala.jdk.CollectionConverters.MapHasAsJava(
            graft.Tables.xmlFidelityOptions).asJava))
        .withColumn("xp_type", expr("xpath_string(x, '/ROW/event_type')"))
        .withColumn("xp_cents", expr("xpath_long(x, '/ROW/cents_in')"))
      base.groupBy(col("rt.event_type").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("rt.cents_in")).as("cents"),
          // null-safe (<=>) comparisons: a from_xml parse FAILURE yields a
          // NULL field, and a plain =!= would evaluate to NULL there —
          // counting the broken row as zero mismatches, the exact blind
          // spot these counters exist to close
          sum(when(!(col("rt.event_type") <=> col("event_type")) ||
                   !(col("rt.cents_in") <=> col("cents_in")), 1L)
            .otherwise(0L)).as("n_rt_mismatch"),
          sum(when(!(col("xp_type") <=> col("event_type")) ||
                   !(col("xp_cents") <=> col("cents_in")), 1L)
            .otherwise(0L)).as("n_xpath_mismatch"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents,
             0 AS n_rt_mismatch,
             0 AS n_xpath_mismatch
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),
    notes = "to_xml/from_xml/xpath_string/xpath_long roundtrip identity: groups and sums come from the ROUNDTRIPPED struct, mismatch counters oracle-stated as 0")

  val all: Seq[QueryDef] = Seq(regexFuncs, datetimeFuncs, nullFuncs,
    bitHashFuncs, statsMoments, aggCollect, structArgminmax, aggApproxQuantile,
    aggMode, tryFuncs, joinNullSafe, aggBitmapDistinct, aggHllSetops,
    aggLinreg, sqlUdfFuncs, sqlParameterized, xmlFuncs)
}
