package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Tables.{cents, exactDiv, load}

/** Extension surface over the driver's star schema (SURVEY §2.4/§7.2.5):
  * joins (broadcast/semi/anti/range/as-of), aggregations (hash, distinct,
  * rollup), windows, top-k, set ops, JSON + event-time operators.
  *
  * Scale posture (100 TB): fact-fact joins shuffle on their join keys and let
  * AQE re-plan; every dimension side small enough to broadcast IS broadcast;
  * aggregates are partial+final automatically (`HashAggregateExec`); nothing
  * here collects to the driver. Float outputs follow the exact-integer rules
  * in [[graft.Tables]].
  */
object RelationalQueries {

  /** TPC-H Q1-shaped pricing summary: single-table scan → partial/final hash
    * aggregate. Filter pushes to the parquet scan.
    */
  val q1Pricing = QueryDef(
    "q1_pricing",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", exactDiv(col("sum_qty_cents"), col("count_order") * 100))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
             COUNT(*) AS count_order,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_qty
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q3-shaped: broadcast the filtered customer dim into the
    * orders⋈lineitem shuffle join; top-10 via sort+limit (TakeOrderedAndProject).
    */
  val q3Shipping = QueryDef(
    "q3_shipping",
    (spark, dir) => {
      val cust = load(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = load(spark, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate  > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue_cents DESC, l_orderkey
      LIMIT 10"""))

  /** TPC-H Q5-shaped: 6-way join — all dims broadcast, lineitem⋈orders is the
    * only shuffle pair; local-supplier condition c_nationkey = s_nationkey.
    */
  val q5NationRevenue = QueryDef(
    "q5_nation_revenue",
    (spark, dir) => {
      val region = load(spark, dir, "region").filter(col("r_name") === "ASIA")
      val nation = load(spark, dir, "nation")
      val cust = load(spark, dir, "customer")
      val supp = load(spark, dir, "supplier")
      val ord = load(spark, dir, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = load(spark, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name"))
    },
    Some("""
      SELECT n_name,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue_cents DESC, n_name"""))

  /** LEFT SEMI join (EXISTS): customers with at least one open order. */
  val joinSemi = QueryDef(
    "join_semi",
    (spark, dir) => {
      val cust = load(spark, dir, "customer")
      val open = load(spark, dir, "orders").filter(col("o_orderstatus") === "O")
      cust.join(open, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      ORDER BY c_custkey"""))

  /** LEFT ANTI join (NOT EXISTS): customers with no in-progress order. */
  val joinAnti = QueryDef(
    "join_anti",
    (spark, dir) => {
      val cust = load(spark, dir, "customer")
      val partial = load(spark, dir, "orders").filter(col("o_orderstatus") === "P")
      cust.join(partial, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey"""))

  /** Range (theta) join against a tiny inline tier dim — broadcast
    * nested-loop, the right physical shape for band joins against small dims.
    */
  val joinRangeBucket = QueryDef(
    "join_range_bucket",
    (spark, dir) => {
      import spark.implicits._
      val tiers = Seq((0, 10, "XS"), (10, 20, "S"), (20, 30, "M"),
        (30, 40, "L"), (40, 10000, "XL")).toDF("lo", "hi", "tier")
      val li = load(spark, dir, "lineitem")
      li.join(broadcast(tiers),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_items"), sum(cents(col("l_quantity"))).as("qty_cents"))
        .orderBy(col("tier"))
    },
    Some("""
      WITH tiers(lo, hi, tier) AS (
        VALUES (0, 10, 'XS'), (10, 20, 'S'), (20, 30, 'M'), (30, 40, 'L'), (40, 10000, 'XL'))
      SELECT tier, COUNT(*) AS n_items,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem JOIN tiers ON l_quantity >= lo AND l_quantity < hi
      GROUP BY tier
      ORDER BY tier"""))

  /** Backward as-of join: each purchase event paired with the latest 'view'
    * event of the same user strictly before it (millisecond granularity on
    * both engines — events.ts is ns parquet, Spark truncates to µs, so raw
    * timestamp comparison would diverge; epoch-ms floors identically).
    *
    * Implemented as the union + sort + running-last-value pattern: one
    * shuffle on user_id, one partition-local sort, O(n) state — the as-of
    * shape that survives 100 TB. (A join on user + timestamp-filter + rank
    * is O(purchases × views) per user and melts on power users; this is
    * O(events) regardless of skew.) Strictly-before is enforced by sorting
    * views ahead of purchases at equal (ms, id) via a kind tiebreak.
    */
  val joinAsof = QueryDef(
    "join_asof",
    (spark, dir) => {
      val ev = load(spark, dir, "events")
      // kind 0 = purchase, 1 = view: at equal ms a purchase sorts BEFORE the
      // views, so the frame (unbounded .. current-1) contains exactly the
      // views with v_ms STRICTLY < p_ms — the as-of "strictly before" rule.
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("ms"),
          col("event_id"), lit(0).as("kind"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_millis(col("ts")).as("ms"),
          col("event_id"), lit(1).as("kind"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      p.unionAll(v)
        .withColumn("prior_view_id",
          last(when(col("kind") === 1, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("prior_view_ms",
          last(when(col("kind") === 1, col("ms")), ignoreNulls = true).over(w))
        .filter(col("kind") === 0 && col("prior_view_id").isNotNull)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("prior_view_id"), (col("ms") - col("prior_view_ms")).as("gap_ms"))
        .orderBy(col("purchase_id"))
    },
    Some("""
      WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS p_ms
                 FROM events WHERE event_type = 'purchase'),
           v AS (SELECT event_id AS view_id, user_id AS v_user, epoch_ms(ts) AS v_ms
                 FROM events WHERE event_type = 'view'),
           j AS (SELECT purchase_id, user_id, view_id, p_ms, v_ms,
                        ROW_NUMBER() OVER (PARTITION BY purchase_id
                                           ORDER BY v_ms DESC, view_id DESC) AS rn
                 FROM p JOIN v ON user_id = v_user AND v_ms < p_ms)
      SELECT purchase_id, user_id, view_id AS prior_view_id, p_ms - v_ms AS gap_ms
      FROM j WHERE rn = 1
      ORDER BY purchase_id"""))

  /** ROLLUP over region→nation order revenue (hierarchical grouping sets). */
  val aggRollup = QueryDef(
    "agg_rollup",
    (spark, dir) => {
      val ord = load(spark, dir, "orders")
      val cust = load(spark, dir, "customer")
      val nation = load(spark, dir, "nation")
      val region = load(spark, dir, "region")
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("total_cents"))
        .select(coalesce(col("r_name"), lit("-ALL-")).as("region_name"),
          coalesce(col("n_name"), lit("-ALL-")).as("nation_name"),
          col("n_orders"), col("total_cents"))
        .orderBy(col("region_name"), col("nation_name"))
    },
    Some("""
      SELECT COALESCE(r_name, '-ALL-') AS region_name,
             COALESCE(n_name, '-ALL-') AS nation_name,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region_name, nation_name"""))

  /** Distinct aggregation: per order status, distinct customers + volumes. */
  val aggDistinct = QueryDef(
    "agg_distinct",
    (spark, dir) => {
      load(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          sum(cents(col("o_totalprice"))).as("total_cents"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n_orders,
             COUNT(DISTINCT o_custkey) AS n_customers,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""))

  /** Per-group top-k via ranking window — the scalable top-k pattern (no
    * global sort; rank computed inside each hash partition).
    */
  val windowTopk = QueryDef(
    "window_topk",
    (spark, dir) => {
      val ord = load(spark, dir, "orders")
        .withColumn("totalprice_cents", cents(col("o_totalprice")))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
      ord.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("totalprice_cents"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""
      SELECT o_custkey, rn, o_orderkey, totalprice_cents
      FROM (SELECT o_custkey, o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC, o_orderkey) AS rn
            FROM orders)
      WHERE rn <= 3
      ORDER BY o_custkey, rn"""))

  /** Running aggregates: per-user cumulative sum + lag, µs event-time order. */
  val windowRunning = QueryDef(
    "window_running",
    (spark, dir) => {
      val ev = load(spark, dir, "events")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
          cents(col("value")).as("value_cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      ev.select(
          col("event_id"), col("user_id"),
          row_number().over(w).as("rn"),
          sum(col("value_cents"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("running_cents"),
          lag(col("event_id"), 1).over(w).as("prev_event_id"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id,
             ROW_NUMBER() OVER w AS rn,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
             LAG(event_id, 1) OVER w AS prev_event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      ORDER BY event_id"""))

  /** Global top-k: sort + limit compiles to TakeOrderedAndProject — per
    * partition local top-k, then a k-row merge on the driver, never a full sort.
    */
  val topkGlobal = QueryDef(
    "topk_global",
    (spark, dir) => {
      load(spark, dir, "orders")
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("totalprice_cents"))
        .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""
      SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents
      FROM orders
      ORDER BY totalprice_cents DESC, o_orderkey
      LIMIT 100"""))

  /** Set operators: INTERSECT / EXCEPT / UNION ALL over yearly buyer sets. */
  val setOps = QueryDef(
    "setops",
    (spark, dir) => {
      val ord = load(spark, dir, "orders")
      def buyers(y: Int) = ord.filter(
        col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
        .select(col("o_custkey").as("custkey"))
      val y95 = buyers(1995)
      val y96 = buyers(1996)
      val both = y95.intersect(y96).withColumn("bucket", lit("both"))
      val only95 = y95.except(y96).withColumn("bucket", lit("only_1995"))
      val only96 = y96.except(y95).withColumn("bucket", lit("only_1996"))
      both.unionAll(only95).unionAll(only96)
        .select(col("bucket"), col("custkey"))
        .orderBy(col("bucket"), col("custkey"))
    },
    Some("""
      WITH y95 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
           y96 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
      SELECT 'both' AS bucket, custkey FROM (SELECT custkey FROM y95 INTERSECT SELECT custkey FROM y96)
      UNION ALL
      SELECT 'only_1995' AS bucket, custkey FROM (SELECT custkey FROM y95 EXCEPT SELECT custkey FROM y96)
      UNION ALL
      SELECT 'only_1996' AS bucket, custkey FROM (SELECT custkey FROM y96 EXCEPT SELECT custkey FROM y95)
      ORDER BY bucket, custkey"""))

  /** JSON extraction (`events.props`) + grouped aggregation. */
  val eventsJson = QueryDef(
    "events_json",
    (spark, dir) => {
      load(spark, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("event_type"))
    },
    Some("""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             MIN(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Spark 4 VARIANT end to end: build a NESTED semi-structured doc
    * (object + array) from the event columns, `parse_json` it into a
    * VARIANT, then read it back with typed `variant_get` paths — nested
    * field, array index, and a `try_variant_get` miss that must yield null
    * instead of erroring. VARIANT is Spark 4's binary semi-structured
    * encoding (shredded, no per-access re-parse — the 100 TB answer to
    * string-JSON columns, where `get_json_object` re-tokenizes the blob on
    * every extraction). The oracle verifies the VALUES from the base
    * columns directly: the doc build + round-trip is the Spark-side
    * exercise, so no JSON dialect can drift the comparison.
    */
  val eventsVariant = QueryDef(
    "events_variant",
    (spark, dir) => {
      // doc built via to_json, not string concat: correct quoting whatever
      // the field values, and a missing/non-numeric props.k becomes a JSON
      // null array element (try_cast) instead of null-propagating the whole
      // doc or injecting malformed JSON
      val doc = to_json(struct(
        struct(col("event_type").as("type"), col("user_id").as("uid"))
          .as("meta"),
        array(get_json_object(col("props"), "$.k").try_cast("long"),
          cents(col("value"))).as("vals")))
      // the JSON build + variant parse + four typed extractions are all
      // row-local-heavy: spread the one-file fixture scan first (no-op on a
      // pre-split cluster scan; r9 A/B warm 0.88 → 0.55 s, stage 1.3 → 0.1)
      Tables.spreadIfNarrow(load(spark, dir, "events"))
        .select(parse_json(doc).as("v"))
        .select(
          variant_get(col("v"), "$.meta.type", "string").as("vtype"),
          variant_get(col("v"), "$.meta.uid", "long").as("uid"),
          variant_get(col("v"), "$.vals[0]", "long").as("k"),
          variant_get(col("v"), "$.vals[1]", "long").as("vc"),
          try_variant_get(col("v"), "$.meta.absent", "long").as("absent"))
        .groupBy(col("vtype"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          sum(col("vc")).as("sum_vc"),
          countDistinct(col("uid")).as("n_users"),
          sum(when(col("absent").isNull, lit(1L)).otherwise(lit(0L)))
            .as("n_absent"))
        .orderBy(col("vtype"))
    },
    Some("""
      SELECT event_type AS vtype, COUNT(*) AS n,
             CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_vc,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             COUNT(*) AS n_absent
      FROM events
      GROUP BY 1
      ORDER BY 1"""),
    notes = "Spark 4 VARIANT: parse_json → typed variant_get (nested path + array index), try_variant_get miss → null; oracle checks values from base columns")

  /** Event-time tumbling window (batch twin of the streaming aggregation in
    * [[graft.streaming.EventStreams]]): 1-day UTC buckets.
    */
  val eventsTumbling = QueryDef(
    "events_tumbling",
    (spark, dir) => {
      load(spark, dir, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("day"), col("event_type"))
    },
    Some("""
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type"""))

  /** Gap-based sessionization (30-min inactivity) — the batch expression of
    * streaming session windows: lag → new-session flag → running sum as
    * session id → per-session rollup. All state partition-local per user.
    */
  val eventsSessionize = QueryDef(
    "events_sessionize",
    (spark, dir) => {
      val gapMs = 30L * 60 * 1000
      val ev = load(spark, dir, "events")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"),
          cents(col("value")).as("value_cents"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      val flagged = ev.withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(w) > gapMs || lag(col("ms"), 1).over(w).isNull, 1)
          .otherwise(0))
      flagged
        .withColumn("sess_seq",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_seq"))
        .agg(min(col("ms")).as("session_start_ms"), max(col("ms")).as("session_end_ms"),
          count(lit(1)).as("n_events"), sum(col("value_cents")).as("value_cents"))
        .select(col("user_id"), col("sess_seq"), col("session_start_ms"),
          col("session_end_ms"), col("n_events"), col("value_cents"))
        .orderBy(col("user_id"), col("sess_seq"))
    },
    Some("""
      WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
                 FROM events),
           f AS (SELECT *, CASE WHEN ms - LAG(ms, 1) OVER w > 1800000
                                  OR LAG(ms, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
                 FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
           s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
                 FROM f)
      SELECT user_id, sess_seq, MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
             COUNT(*) AS n_events, CAST(SUM(value_cents) AS BIGINT) AS value_cents
      FROM s
      GROUP BY user_id, sess_seq
      ORDER BY user_id, sess_seq"""))

  /** CUBE over (status, priority) — all four grouping-set combinations. */
  val aggCube = QueryDef(
    "agg_cube",
    (spark, dir) => {
      load(spark, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("total_cents"))
        .select(coalesce(col("o_orderstatus"), lit("-ALL-")).as("status"),
          coalesce(col("o_orderpriority"), lit("-ALL-")).as("priority"),
          col("n_orders"), col("total_cents"))
        .orderBy(col("status"), col("priority"))
    },
    Some("""
      SELECT COALESCE(o_orderstatus, '-ALL-') AS status,
             COALESCE(o_orderpriority, '-ALL-') AS priority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""))

  /** Typed-Aggregator UDAF ([[graft.functions.LastValueAggregator]]): latest
    * event payload per user via a deterministic composite arg-max.
    */
  val aggUdafLastValue = QueryDef(
    "agg_udaf_lastvalue",
    (spark, dir) => {
      val lastCents = udaf(graft.functions.LastValueAggregator)
      load(spark, dir, "events")
        .select(col("user_id"),
          unix_millis(col("ts")).as("ms"), col("event_id").as("id"),
          cents(col("value")).as("cents"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          lastCents(col("ms"), col("id"), col("cents")).as("last_value_cents"))
        .orderBy(col("user_id"))
    },
    Some("""
      WITH ranked AS (
        SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
      SELECT user_id, n_events, cents AS last_value_cents
      FROM ranked WHERE rn = 1
      ORDER BY user_id"""))

  /** Date/time feature extraction, kept engine-portable by deriving
    * day-of-week and hour arithmetically from epoch ms (Spark's dayofweek is
    * 1=Sunday, DuckDB's 0=Sunday — raw calendar functions would diverge).
    */
  val eventsDatetime = QueryDef(
    "events_datetime",
    (spark, dir) => {
      val ev = load(spark, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
      ev.select(
          // 1970-01-01 was a Thursday: (days + 4) % 7 gives 0=Sunday
          ((floor(col("ms") / 86400000L) + 4) % 7).cast("int").as("dow"),
          floor((col("ms") % 86400000L) / 3600000L).cast("int").as("hour"),
          col("value"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("dow"), col("hour"))
    },
    Some("""
      SELECT CAST((floor(epoch_ms(ts) / 86400000) + 4) % 7 AS INTEGER) AS dow,
             CAST(floor((epoch_ms(ts) % 86400000) / 3600000) AS INTEGER) AS hour,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      GROUP BY 1, 2
      ORDER BY dow, hour"""))

  /** Math-function battery restricted to IEEE-exact operations (sqrt is
    * correctly rounded everywhere; abs/greatest/least/floor/ceil are exact —
    * pow/log/exp are NOT cross-engine reproducible and stay out).
    */
  val mathFuncs = QueryDef(
    "math_funcs",
    (spark, dir) => {
      load(spark, dir, "part")
        .select(col("p_partkey"),
          sqrt(col("p_retailprice")).as("sqrt_price"),
          abs(col("p_size") - 25).as("abs_size_dev"),
          greatest(col("p_size"), lit(10)).as("size_floor10"),
          least(col("p_size"), lit(40)).as("size_cap40"),
          ceil(col("p_retailprice") / 100).cast("long").as("price_hundreds"),
          (col("p_retailprice") * col("p_retailprice")).as("price_sq"))
        .orderBy(col("p_partkey"))
    },
    Some("""
      SELECT p_partkey,
             sqrt(p_retailprice) AS sqrt_price,
             abs(p_size - 25) AS abs_size_dev,
             greatest(p_size, 10) AS size_floor10,
             least(p_size, 40) AS size_cap40,
             CAST(ceil(p_retailprice / 100) AS BIGINT) AS price_hundreds,
             p_retailprice * p_retailprice AS price_sq
      FROM part
      ORDER BY p_partkey"""))

  /** HLL sketch aggregation (`approx_count_distinct`) next to the exact
    * count. The raw HLL++ estimate is engine-specific (DuckDB's HLL differs
    * by construction), so the hashable contract is: exact distinct counts
    * (fully oracle-verified) plus an integer within-±5%-band flag for each
    * sketch estimate, which the oracle states as the constant 1. rsd=0.01
    * gives ~1% standard error, so the 5σ band is deterministic in practice;
    * ApproxSpec additionally pins the tighter contract.
    *
    * The exact and the sketch counts are two aggregates joined on the group
    * key, not one: in one aggregate Spark's distinct rewrite keeps the HLL
    * buffers (1639 long registers per sketch at rsd=0.01) in every
    * (group, distinct key) bucket of its first phase and shuffles them all.
    */
  val aggApprox = QueryDef(
    "agg_approx",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val exact = li.groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      val sketch = li.groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"))
      exact.join(sketch, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
          (abs(col("ao") - col("exact_orders")) * 100 <= col("exact_orders") * 5)
            .cast("int").as("approx_orders_ok"),
          (abs(col("ap") - col("exact_parts")) * 100 <= col("exact_parts") * 5)
            .cast("int").as("approx_parts_ok"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             COUNT(DISTINCT l_orderkey) AS exact_orders,
             COUNT(DISTINCT l_partkey) AS exact_parts,
             1 AS approx_orders_ok,
             1 AS approx_parts_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  /** Large×large time-interval join, bucketized: every 'error' event paired
    * with every 'purchase' within ±5 minutes, across all users. A naive
    * theta join is O(errors × purchases) — a broadcast nested loop that
    * cannot survive two large sides. The scalable shape: quantize time into
    * window-width buckets, explode the probe side into its ≤3 overlapping
    * buckets, EQUI-join on the bucket (ordinary shuffled hash join on a
    * dense integer key), then post-filter the exact |Δt| ≤ W predicate.
    * Work becomes O(true pairs + bucket collisions), partitioned evenly by
    * bucket. Each purchase lives in exactly one bucket and probe buckets
    * are distinct, so no pair dedup is needed.
    *
    * The DuckDB oracle states the plain theta join (its IEJoin handles the
    * small scale) — independent formulation, identical pairs.
    */
  val joinRangeInterval = QueryDef(
    "join_range_interval",
    (spark, dir) => {
      val W = 300000L // ±5 min in ms
      val ev = load(spark, dir, "events")
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), unix_millis(col("ts")).as("e_ms"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), unix_millis(col("ts")).as("p_ms"))
      val errB = err.select(col("e_id"), col("e_ms"),
        explode(array_distinct(array(
          expr(s"(e_ms - $W) DIV $W"),
          expr(s"e_ms DIV $W"),
          expr(s"(e_ms + $W) DIV $W")))).as("bucket"))
      val purB = pur.withColumn("bucket", expr(s"p_ms DIV $W"))
      errB.join(purB, "bucket")
        .filter(abs(col("e_ms") - col("p_ms")) <= W)
        .groupBy(expr("(e_ms DIV 3600000) % 24").as("hour_of_day"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("e_id")).as("n_errors_matched"))
        .orderBy(col("hour_of_day"))
    },
    Some("""
      WITH err AS (SELECT event_id AS e_id, epoch_ms(ts) AS e_ms FROM events
                   WHERE event_type = 'error'),
      pur AS (SELECT event_id AS p_id, epoch_ms(ts) AS p_ms FROM events
              WHERE event_type = 'purchase')
      SELECT (e_ms // 3600000) % 24 AS hour_of_day,
             COUNT(*) AS n_pairs,
             COUNT(DISTINCT e_id) AS n_errors_matched
      FROM err JOIN pur ON abs(e_ms - p_ms) <= 300000
      GROUP BY (e_ms // 3600000) % 24
      ORDER BY hour_of_day"""))

  /** HLL sketches MERGED across a rollup hierarchy: approx_count_distinct
    * under ROLLUP(returnflag, linestatus) forces partial-sketch merges at
    * every grouping level (the map-side HLL registers combine once per
    * level), next to the exact distinct counts — each level's estimate
    * asserted within ±5% as an oracle-constant flag, the same contract as
    * `agg_approx`. This is the sketch property that matters at 100 TB:
    * merge first, count once, never re-scan per level.
    *
    * As in `agg_approx`, the exact and the sketch rollups are separate
    * aggregates, joined null-safe on the keys plus the grouping id (the
    * rollup's subtotal rows carry null keys).
    */
  val aggApproxRollup = QueryDef(
    "agg_approx_rollup",
    (spark, dir) => {
      val li = load(spark, dir, "lineitem")
      val keys = Seq("l_returnflag", "l_linestatus")
      val exact = li.rollup(keys.map(col): _*).agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        grouping_id().as("gid"))
      val sketch = li.rollup(keys.map(col): _*).agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        grouping_id().as("gid"))
      exact.join(sketch, (keys.map(k => exact(k) <=> sketch(k)) :+
          (exact("gid") === sketch("gid"))).reduce(_ && _))
        .select(exact("l_returnflag"), exact("l_linestatus"),
          col("exact_orders"),
          (abs(col("ao") - col("exact_orders")) * 100 <= col("exact_orders") * 5)
            .cast("int").as("approx_ok"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             COUNT(DISTINCT l_orderkey) AS exact_orders,
             1 AS approx_ok
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  /** The SAME class of interval join written as the NATURAL one-sided theta
    * predicate — `purchase in the 5 minutes before each error` — with the
    * bucketization left entirely to [[graft.plans.RewriteIntervalJoin]],
    * which every [[graft.LocalSession]] installs through
    * [[graft.plans.GraftExtensions]]. This puts the optimizer RULE itself in
    * the driver's hash gate: if the rule stopped firing, PlanShapeSpec fails
    * on the nested loop; if it rewrote incorrectly, this oracle catches it.
    */
  val joinRangeRule = QueryDef(
    "join_range_rule",
    (spark, dir) => {
      val ev = load(spark, dir, "events")
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), unix_millis(col("ts")).as("e_ms"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), unix_millis(col("ts")).as("p_ms"))
      err.join(pur,
          col("p_ms") >= col("e_ms") - lit(300000L) && col("p_ms") < col("e_ms"))
        .select(col("e_id"), col("p_id"), (col("e_ms") - col("p_ms")).as("lead_ms"))
        .orderBy(col("e_id"), col("p_id"))
    },
    Some("""
      WITH err AS (SELECT event_id AS e_id, epoch_ms(ts) AS e_ms FROM events
                   WHERE event_type = 'error'),
      pur AS (SELECT event_id AS p_id, epoch_ms(ts) AS p_ms FROM events
              WHERE event_type = 'purchase')
      SELECT e_id, p_id, e_ms - p_ms AS lead_ms
      FROM err JOIN pur
        ON p_ms >= e_ms - 300000 AND p_ms < e_ms
      ORDER BY e_id, p_id"""))

  /** Sliding (hopping) event-time windows: 1-hour windows every 30 minutes,
    * so each event lands in exactly two windows. Spark's `window()` with a
    * slide plans as a Generate (per-row window expansion) + ordinary
    * aggregate — the oracle derives the same two window starts per event
    * arithmetically.
    */
  val eventsSliding = QueryDef(
    "events_sliding",
    (spark, dir) => {
      load(spark, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("value_cents"))
        .orderBy(col("window_start"), col("event_type"))
    },
    Some("""
      WITH e AS (
        SELECT event_type, value,
               (epoch_ms(ts) // 1800000) * 1800000 AS fb
        FROM events),
      expanded AS (
        SELECT event_type, value,
               unnest([fb, fb - 1800000]) AS ws_ms
        FROM e)
      SELECT epoch_ms(ws_ms) AS window_start, event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      FROM expanded
      GROUP BY ws_ms, event_type
      ORDER BY window_start, event_type"""))

  val all: Seq[QueryDef] = Seq(
    q1Pricing, q3Shipping, q5NationRevenue, joinSemi, joinAnti, joinRangeBucket,
    joinRangeInterval, joinRangeRule, joinAsof, aggRollup, aggDistinct, aggCube,
    aggUdafLastValue, aggApprox, aggApproxRollup, windowTopk, windowRunning,
    topkGlobal, setOps,
    eventsJson, eventsVariant, eventsTumbling, eventsSliding, eventsSessionize,
    eventsDatetime, mathFuncs)
}
