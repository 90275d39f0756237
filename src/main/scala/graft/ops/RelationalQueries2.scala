package graft.ops

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables.{cents, exactDiv, load}

/** Fifth-wave relational coverage: the join/subquery shapes the first waves
  * left out — left-outer with a join-condition filter (TPC-H Q13), full-outer
  * merge of two aggregates, scalar-max subquery re-join (Q15), market-share
  * conditional ratio (Q8), nested-IN + HAVING decorrelation (Q20), and
  * double-correlated EXISTS / NOT EXISTS over a self-joined fact (Q21).
  *
  * Scale posture: Q13's customer⋈orders is a shuffle join on custkey (both
  * sides are fact-sized at real scale); the count-histogram re-aggregation
  * shuffles on the tiny c_count domain. Q15's global max is a single-row
  * broadcast back over the grouped revenue — the distributed form of a
  * scalar subquery (no driver collect). Q21's decorrelated semi/anti joins
  * shuffle on l_orderkey, the same key as the fact⋈orders join, so the
  * exchange is reusable.
  */
object RelationalQueries2 {

  private def view(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): Unit =
    load(spark, dir, name).createOrReplaceTempView(name)

  /** TPC-H Q13: customer order-count distribution. The priority filter lives
    * in the JOIN CONDITION, not a WHERE — customers with only urgent orders
    * must still appear with count 0 (the left-outer semantics the WHERE form
    * would destroy).
    */
  val q13CustDist = QueryDef(
    "q13_custdist",
    (spark, dir) => {
      val cust = load(spark, dir, "customer").select(col("c_custkey"))
      val ord = load(spark, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      SELECT c_count, COUNT(*) AS custdist
      FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""))

  /** Full-outer merge of two per-nation aggregates with deliberately
    * asymmetric filters, so the result has left-only, both, and right-only
    * rows; every output column is COALESCE'd. At scale both sides are
    * pre-aggregated to the nation domain before the join — the outer join
    * itself is trivially small no matter the fact size.
    */
  val joinFullOuter = QueryDef(
    "join_full_outer",
    (spark, dir) => {
      val s = load(spark, dir, "supplier")
        .filter(col("s_nationkey") < 15)
        .groupBy(col("s_nationkey").as("skey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(cents(col("s_acctbal"))).as("supp_bal_cents"))
      val c = load(spark, dir, "customer")
        .filter(col("c_nationkey") >= 10)
        .groupBy(col("c_nationkey").as("ckey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(cents(col("c_acctbal"))).as("cust_bal_cents"))
      s.join(c, col("skey") === col("ckey"), "full_outer")
        .select(coalesce(col("skey"), col("ckey")).as("nationkey"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          coalesce(col("supp_bal_cents"), lit(0L)).as("supp_bal_cents"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("cust_bal_cents"), lit(0L)).as("cust_bal_cents"))
        .orderBy(col("nationkey"))
    },
    Some("""
      SELECT COALESCE(skey, ckey) AS nationkey,
             COALESCE(n_supp, 0) AS n_supp,
             COALESCE(supp_bal_cents, 0) AS supp_bal_cents,
             COALESCE(n_cust, 0) AS n_cust,
             COALESCE(cust_bal_cents, 0) AS cust_bal_cents
      FROM (SELECT s_nationkey AS skey, COUNT(*) AS n_supp,
                   CAST(SUM(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS supp_bal_cents
            FROM supplier WHERE s_nationkey < 15 GROUP BY s_nationkey) s
      FULL OUTER JOIN
           (SELECT c_nationkey AS ckey, COUNT(*) AS n_cust,
                   CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cust_bal_cents
            FROM customer WHERE c_nationkey >= 10 GROUP BY c_nationkey) c
        ON skey = ckey
      ORDER BY nationkey"""))

  /** TPC-H Q15: top supplier(s) by quarterly revenue. The global max is a
    * 1-row aggregate broadcast back over the per-supplier revenue — the
    * scalar subquery without any driver round-trip, and ties survive
    * (= semantics, not LIMIT 1).
    */
  val q15TopSupp = QueryDef(
    "q15_topsupp",
    (spark, dir) => {
      val rev = load(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total_rev_cents"))
      val maxRev = rev.agg(max(col("total_rev_cents")).as("max_rev_cents"))
      val supp = load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(maxRev))
        .filter(col("total_rev_cents") === col("max_rev_cents"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_cents"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_rev_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_rev_cents
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_rev_cents = (SELECT MAX(total_rev_cents) FROM rev)
      ORDER BY s_suppkey"""))

  /** TPC-H Q8-shaped: one nation's market share of total revenue per ship
    * year — a conditional-aggregate ratio where both numerator and
    * denominator are exact cent sums and the share is one IEEE division.
    */
  val q8Share = QueryDef(
    "q8_share",
    (spark, dir) => {
      val supp = load(spark, dir, "supplier")
        .join(broadcast(load(spark, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val vol = cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
      load(spark, dir, "lineitem")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("l_shipdate")).as("ship_year"))
        .agg(sum(when(col("n_name") === "NATION_1", vol).otherwise(0L)).as("nation_cents"),
          sum(vol).as("total_cents"))
        .withColumn("mkt_share", exactDiv(col("nation_cents"), col("total_cents")))
        .orderBy(col("ship_year"))
    },
    Some("""
      SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
             CAST(SUM(CASE WHEN n_name = 'NATION_1'
                   THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS nation_cents,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(SUM(CASE WHEN n_name = 'NATION_1'
                   THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                   ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS mkt_share
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY 1
      ORDER BY ship_year"""))

  /** TPC-H Q20-shaped: suppliers who moved serious volume of LIKE-matched
    * parts — nested IN subqueries (supplier IN (grouped-HAVING fact subquery
    * over part IN (...))) , expressed in SQL to exercise Catalyst's
    * IN-subquery → semi-join decorrelation at both nesting levels.
    */
  val q20Excess = QueryDef(
    "q20_excess",
    (spark, dir) => {
      view(spark, dir, "supplier"); view(spark, dir, "lineitem")
      view(spark, dir, "part")
      spark.sql("""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE '%widget%')
          GROUP BY l_suppkey
          HAVING SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 50000)
        ORDER BY s_suppkey""")
    },
    Some("""
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE '%widget%')
        GROUP BY l_suppkey
        HAVING SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 50000)
      ORDER BY s_suppkey"""))

  /** TPC-H Q21-shaped: suppliers who were the SOLE late shipper on
    * multi-supplier orders (late = shipped >60 days after order date; the
    * driver schema has no commit/receipt dates). EXISTS + NOT EXISTS, both
    * correlated on l_orderkey, each with an inner re-join to orders —
    * Catalyst decorrelates to a semi join and an anti join on the same key
    * as the main fact⋈orders join.
    */
  val q21SoleLate = QueryDef(
    "q21_solelate",
    (spark, dir) => {
      view(spark, dir, "supplier"); view(spark, dir, "lineitem")
      view(spark, dir, "orders")
      spark.sql("""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders    ON o_orderkey = l1.l_orderkey
        WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 50""")
    },
    Some("""
      SELECT s_name, COUNT(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders    ON o_orderkey = l1.l_orderkey
      WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 50"""))

  /** Skew-proof aggregation through [[Skew.saltedSumCount]]: lineitem has
    * only 3 return-flag keys — the worst aggregation skew possible (every
    * row funnels to 3 tasks). The salted two-phase plan spreads each key
    * over 16 salt buckets first, then re-aggregates ≤16 partial rows per
    * key; the final shuffle is O(keys·salt) regardless of input size. The
    * oracle is the plain one-phase GROUP BY — distributive aggregates make
    * the two formulations exactly equal.
    */
  val aggSalted = QueryDef(
    "agg_salted",
    (spark, dir) => {
      Skew.saltedSumCount(
          load(spark, dir, "lineitem"), col("l_returnflag"), 16,
          "qty_cents" -> cents(col("l_quantity")),
          "price_cents" -> cents(col("l_extendedprice")))
        .orderBy(col("key"))
    },
    Some("""
      SELECT l_returnflag AS key, COUNT(*) AS n,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY key"""))

  /** Skew-salted JOIN — the join-side counterpart of [[aggSalted]]. When one
    * join key is a heavy hitter and neither side broadcasts, a plain
    * shuffle join lands the entire hot key on one task. Salting spreads it:
    * the big (probe) side derives a deterministic salt in [0, S) from a
    * NON-key column (so rows of the same hot key scatter across S buckets),
    * the build side is exploded ×S, and the join key becomes (key, salt).
    * The `shuffle_hash` hint forces the shuffle path so the salt actually
    * governs partitioning (with broadcast the salt would be a no-op).
    * Result is provably identical to the plain join — that identity is
    * exactly what the oracle (an UNSALTED join) checks.
    *
    * At 100 TB: S is sized to the observed skew (hottest-key rows / healthy
    * partition size); AQE's skew-split handles moderate skew automatically,
    * salting is the explicit fix for the pathological single-key case AQE
    * cannot split (one key, one reducer).
    */
  val joinSalted = QueryDef(
    "join_salted",
    (spark, dir) => {
      val S = 8
      val li = load(spark, dir, "lineitem")
        .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
          lit(S)).cast("int"))
      val part = load(spark, dir, "part")
        .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
        .hint("shuffle_hash")
      li.join(part,
          col("l_partkey") === col("p_partkey") && li("salt") === part("salt"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(col("l_quantity").cast("long")).as("qty_sum"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand, COUNT(*) AS n_items,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
      ORDER BY p_brand"""),
    notes = "salted shuffle join == plain join; salt spreads hot keys over 8 buckets")

  /** One PageRank power-iteration step over the customer→supplier trade
    * graph (an edge per distinct (custkey, suppkey) pair that traded).
    * Everything is INTEGER basis-point arithmetic — contribution =
    * 10000 DIV outdeg, rank = 1500 + 85·Σcontrib DIV 100 — so the oracle is
    * exact (float PageRank would be summation-order-dependent cross-engine).
    *
    * Scale shape: edges come from one orders⋈lineitem join (both shuffled
    * on orderkey), outdegree is one groupBy on the source key, and the
    * contribution join shuffles on custkey — each step is a standard
    * shuffle, never an adjacency matrix. Full PageRank = this step
    * iterated, same pointer-doubling economics as `dedup_components`
    * (O(log) rounds, convergence checked by an aggregate, no driver loop
    * over rows).
    */
  val graphPagerank = QueryDef(
    "graph_pagerank",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val edges = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(load(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
      // outdegree as an unordered window over the deduped edges, NOT an
      // aggregate re-joined back: the join form materializes the whole
      // edge-build subplan twice (scan+join+distinct on each side of an
      // SMJ) — 2× the dominant cost at any scale
      val contrib = edges
        .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
        .select(col("dst"), expr("10000L div outdeg").as("c"))
      contrib.groupBy(col("dst"))
        .agg(count(lit(1)).as("in_deg"),
          (lit(1500L) + expr("(85L * sum(c)) div 100L")).as("rank_bp"))
        .select(col("dst").as("supp_key"), col("in_deg"), col("rank_bp"))
        .orderBy(col("rank_bp").desc, col("supp_key"))
        .limit(100)
    },
    Some("""
      WITH edges AS (
        SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      outdeg AS (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      contrib AS (
        SELECT dst, 10000 // outdeg AS c
        FROM edges JOIN outdeg USING (src))
      SELECT dst AS supp_key, COUNT(*) AS in_deg,
             CAST(1500 + (85 * SUM(c)) // 100 AS BIGINT) AS rank_bp
      FROM contrib
      GROUP BY dst
      ORDER BY rank_bp DESC, dst
      LIMIT 100"""),
    notes = "integer-exact PageRank step; iterate for full PR (see dedup_components)")

  /** FIVE damped PageRank iterations over the symmetric customer↔supplier
    * trade graph — the loop-in-plan shape [[graphPagerank]]'s Scaladoc
    * promises ("iterate for full PR"), made a hash-gated fact. Node ids are
    * disambiguated arithmetically (customer k → 2k, supplier k → 2k+1) and
    * every traded (cust, supp) pair contributes BOTH directed edges, so the
    * graph is symmetric: every node has outdeg ≥ 1 (no dangling mass) and
    * indeg ≥ 1 (each iteration's inner join is total — rank_k covers every
    * node for all k).
    *
    * All arithmetic is INTEGER basis points in a pinned order — per-edge
    * c = rank div outdeg, then s = Σc (exact Long sum, order-free), then
    * rank' = 1500 + (85·s) div 100 — so five chained iterations stay
    * bit-identical cross-engine where float PageRank would diverge by
    * summation order at iteration 1. Operands are structurally nonnegative,
    * so Spark `div` == DuckDB `//` (both truncate; measured r6). The oracle replays the
    * exact recurrence as five chained CTEs (r1..r5), each cast back to
    * BIGINT to mirror Long (DuckDB SUM widens to HUGEINT).
    *
    * Scale shape: the edge list (with outdeg attached by one window) is
    * localCheckpoint-ed ONCE and reused by all five iterations — on a
    * cluster this is the classic persist-the-invariant-side pattern (edges
    * are iteration-invariant; only the rank table changes). Each iteration
    * is join-on-src (shuffle on src) + groupBy-dst (shuffle on dst), both
    * hash-gateable. The rank chain is deliberately NOT checkpointed per
    * iteration: with a fixed, authoring-time-known depth of 5 the whole
    * recurrence compiles into ONE job whose exchanges pipeline under AQE,
    * vs five serialized jobs each paying an eager materialization of the
    * (tiny) rank table — measured 5.03→2.40 s at sf0.1 (r9). Unbounded-
    * iteration loops (dedup_components' pointer doubling) keep per-step
    * checkpoints, where plan depth would otherwise grow with the data.
    * Rank values stay ≤ ~1e9·bp for any realistic degree distribution —
    * no Long overflow.
    */
  val graphPagerankIter = QueryDef(
    "graph_pagerank_iter",
    (spark, dir) => {
      val iters = 5
      import org.apache.spark.sql.expressions.Window
      val pairs = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(load(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
      val edges = pairs.select((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
        .unionAll(pairs.select((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
        .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
        .localCheckpoint() // iteration-invariant side: computed once, reused 5×
      var ranks = edges.select(col("src").as("node")).distinct()
        .withColumn("rank_bp", lit(10000L))
      for (_ <- 1 to iters) {
        ranks = edges
          .join(ranks, col("src") === col("node"))
          .select(col("dst"), expr("rank_bp div outdeg").as("contrib"))
          .groupBy(col("dst"))
          .agg((lit(1500L) + expr("(85L * sum(contrib)) div 100L")).as("rank_bp"))
          .select(col("dst").as("node"), col("rank_bp"))
      }
      ranks.orderBy(col("rank_bp").desc, col("node")).limit(100)
    },
    Some("""
      WITH pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      edges AS (
        SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs),
      deg AS (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      r0 AS (
        SELECT src AS node, CAST(10000 AS BIGINT) AS rank_bp FROM deg),
      r1 AS (
        SELECT e.dst AS node,
               CAST(1500 + (85 * SUM(r.rank_bp // d.outdeg)) // 100 AS BIGINT) AS rank_bp
        FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src
        GROUP BY e.dst),
      r2 AS (
        SELECT e.dst AS node,
               CAST(1500 + (85 * SUM(r.rank_bp // d.outdeg)) // 100 AS BIGINT) AS rank_bp
        FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON r.node = e.src
        GROUP BY e.dst),
      r3 AS (
        SELECT e.dst AS node,
               CAST(1500 + (85 * SUM(r.rank_bp // d.outdeg)) // 100 AS BIGINT) AS rank_bp
        FROM edges e JOIN deg d ON e.src = d.src JOIN r2 r ON r.node = e.src
        GROUP BY e.dst),
      r4 AS (
        SELECT e.dst AS node,
               CAST(1500 + (85 * SUM(r.rank_bp // d.outdeg)) // 100 AS BIGINT) AS rank_bp
        FROM edges e JOIN deg d ON e.src = d.src JOIN r3 r ON r.node = e.src
        GROUP BY e.dst),
      r5 AS (
        SELECT e.dst AS node,
               CAST(1500 + (85 * SUM(r.rank_bp // d.outdeg)) // 100 AS BIGINT) AS rank_bp
        FROM edges e JOIN deg d ON e.src = d.src JOIN r4 r ON r.node = e.src
        GROUP BY e.dst)
      SELECT node, rank_bp FROM r5
      ORDER BY rank_bp DESC, node
      LIMIT 100"""),
    notes = "5 damped integer-bp PageRank iterations; edges checkpointed once, rank table looped")

  /** Degree-ordered triangle counting over the co-purchase graph (parts of
    * one brand co-occurring in an order) — the wedge-closure join shape the
    * graph battery lacked. The load-bearing scale idea is the ORIENTATION:
    * every edge points from its (degree, id)-smaller endpoint to the larger
    * one, a total order, so each triangle has exactly one "apex" ordering
    * a→b, b→c, a→c and is counted once — and, critically, the wedge join
    * fans out from each vertex's OUT-degree, which the orientation bounds
    * by O(√E) for any graph (the standard compact-forward guarantee):
    * Σ outdeg² stays near E^1.5 instead of the unoriented Σ deg² blow-up
    * that makes hub vertices quadratic. Everything is counts and integer
    * comparisons; the three scalar results are recombined by 1-row
    * broadcast cross joins (the scalar-subquery pattern).
    */
  val graphTriangles = QueryDef(
    "graph_triangles",
    (spark, dir) => {
      val sel = load(spark, dir, "part")
        .filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("pk"))
      val items = load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(sel, col("l_partkey") === col("pk"))
        .select(col("ok"), col("pk"))
        .distinct()
      val pairs = items.as("a").join(items.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
      val deg = pairs.select(col("u").as("x"))
        .unionAll(pairs.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val oriented = pairs
        .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("dst"))
        .localCheckpoint() // reused 3×: wedge build (both sides) + closure
      val wedges = oriented.as("e1").join(oriented.as("e2"),
          col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("wa"), col("e1.dst").as("wb"),
          col("e2.dst").as("wc"))
      val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
      val nWedges = wedges.agg(count(lit(1)).as("n_wedges"))
      val nTri = wedges.join(oriented.as("e3"),
          col("wa") === col("e3.src") && col("wc") === col("e3.dst"))
        .agg(count(lit(1)).as("n_triangles"))
      nEdges.crossJoin(nWedges).crossJoin(nTri)
    },
    Some("""
      WITH sel AS (SELECT p_partkey AS pk FROM part WHERE p_brand = 'Brand#11'),
      items AS (
        SELECT DISTINCT l_orderkey AS ok, pk
        FROM lineitem JOIN sel ON l_partkey = pk),
      pairs AS (
        SELECT DISTINCT a.pk AS u, b.pk AS v
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      deg AS (
        SELECT x, COUNT(*) AS d FROM (
          SELECT u AS x FROM pairs UNION ALL SELECT v AS x FROM pairs)
        GROUP BY x),
      oriented AS (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN u ELSE v END AS src,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN v ELSE u END AS dst
        FROM pairs JOIN deg du ON du.x = u JOIN deg dv ON dv.x = v),
      wedges AS (
        SELECT e1.src AS wa, e1.dst AS wb, e2.dst AS wc
        FROM oriented e1 JOIN oriented e2 ON e1.dst = e2.src),
      tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM wedges JOIN oriented e3 ON wa = e3.src AND wc = e3.dst)
      SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
             (SELECT COUNT(*) FROM wedges) AS n_wedges,
             n_triangles
      FROM tri"""),
    notes = "compact-forward triangle count; orientation bounds wedge fan-out by O(sqrt E)")

  /** Multi-hop BFS reachability (min hop distance ≤ 3 from a seed brand)
    * over the consecutive-linenumber part graph — the frontier-expansion
    * loop every graph engine special-cases, expressed as three rounds of
    * join → distinct → anti-join. The scale property is that each round
    * touches only frontier × avg-degree rows, dedups BEFORE the anti-join
    * (neighbors of a dense frontier collapse early), and the settled set
    * only ever grows — exactly Pregel's message model, here as plain
    * shuffles Catalyst can plan. Edges are checkpointed once and reused by
    * all rounds. The oracle replays the same search as a recursive CTE
    * whose UNION dedup bounds the working set at nodes × maxHops, then
    * takes MIN(hops) — path enumeration (UNION ALL) would be exponential.
    */
  val graphBfs = QueryDef(
    "graph_bfs",
    (spark, dir) => {
      val ln = load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"))
      val e0 = ln.as("a").join(ln.as("b"),
          col("a.ok") === col("b.ok") && col("b.ln") === col("a.ln") + 1 &&
            col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      // dedup BEFORE doubling directions: half the distinct's shuffle. The
      // rare symmetric duplicate ((a,b) and (b,a) both observed) survives,
      // which BFS tolerates — every frontier is re-deduped anyway.
      val edges = e0.distinct()
      // hash-partition the adjacency on the probe key BEFORE materializing:
      // localCheckpoint preserves outputPartitioning, so each of the 3
      // frontier joins shuffles only the (tiny) frontier, never the edges.
      val adj = edges
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
        .localCheckpoint() // reused by all 3 BFS rounds
      val seeds = load(spark, dir, "part")
        .filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("node"))
      var dist = seeds.withColumn("hops", lit(0))
      var frontier = dist
      for (h <- 1 to 3) {
        frontier = frontier.join(adj, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("hops", lit(h))
        dist = dist.unionAll(frontier)
      }
      dist.orderBy(col("node"))
    },
    Some("""
      WITH RECURSIVE
      e0 AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND b.l_linenumber = a.l_linenumber + 1
        WHERE a.l_partkey <> b.l_partkey),
      edges AS (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
      bfs AS (
        SELECT p_partkey AS node, 0 AS hops FROM part
        WHERE p_brand = 'Brand#11'
        UNION
        SELECT e.dst AS node, b.hops + 1 AS hops
        FROM bfs b JOIN edges e ON b.node = e.src
        WHERE b.hops < 3)
      SELECT node, CAST(MIN(hops) AS INT) AS hops
      FROM bfs GROUP BY node ORDER BY node"""),
    notes = "frontier BFS, min-hop ≤3; anti-join settles nodes, oracle = recursive CTE + MIN")

  /** Relational division (the FOR-ALL join): which suppliers cover the
    * whole Brand#11 part universe — expressed as the count-match form
    * (distinct covered parts vs a 1-row universe count broadcast), NOT the
    * double-NOT-EXISTS textbook form, because count-match is one semi-join
    * + one aggregate where double negation plans two correlated anti-joins
    * over the fact. Emitted as a coverage leaderboard (top 10 by covered
    * count, deterministic tie-break) with the exact-division predicate as
    * `full_cover` — at production selectivities full covers are rare, and
    * a division operator that returns "empty" hides whether the pipeline
    * works; coverage_bp keeps the answer informative at every SF.
    */
  val joinDivision = QueryDef(
    "join_division",
    (spark, dir) => {
      val brandParts = load(spark, dir, "part")
        .filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("bp"))
      val universe = brandParts.agg(count(lit(1)).as("n_parts"))
      val covered = load(spark, dir, "lineitem")
        .join(broadcast(brandParts), col("l_partkey") === col("bp"))
        .select(col("l_suppkey"), col("l_partkey")).distinct()
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_covered"))
      covered.crossJoin(broadcast(universe))
        .select(col("l_suppkey"), col("n_covered"), col("n_parts"),
          expr("(10000L * n_covered) div n_parts").as("coverage_bp"),
          (col("n_covered") === col("n_parts")).cast("int").as("full_cover"))
        .orderBy(col("n_covered").desc, col("l_suppkey"))
        .limit(10)
    },
    Some("""
      WITH bp AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'),
      u AS (SELECT COUNT(*) AS n_parts FROM bp),
      cov AS (
        SELECT l_suppkey, COUNT(*) AS n_covered FROM (
          SELECT DISTINCT l_suppkey, l_partkey
          FROM lineitem JOIN bp ON l_partkey = p_partkey)
        GROUP BY 1)
      SELECT l_suppkey, n_covered, n_parts,
             (10000 * n_covered) // n_parts AS coverage_bp,
             CAST(n_covered = n_parts AS INTEGER) AS full_cover
      FROM cov CROSS JOIN u
      ORDER BY n_covered DESC, l_suppkey
      LIMIT 10"""),
    notes = "division via count-match (semi-join + aggregate), not double NOT EXISTS")

  /** Community detection: 3 synchronous rounds of min-label propagation
    * over the undirected customer–supplier graph (Pregel supersteps as
    * join + aggregate). Node ids are made disjoint by parity (customer →
    * 2k, supplier → 2k+1) so a label is globally unique. Each round is
    * exactly: gather MIN neighbor label (one join keyed on the adjacency's
    * partitioning + one agg), then merge with LEAST — no driver state, no
    * collect.
    *
    * Scale posture: the adjacency is deduped once, hash-partitioned on the
    * probe key and localCheckpointed, so all 3 rounds shuffle ONLY the
    * (node, label) table — same iteration economics proven by graph_bfs
    * and dedup_components (pointer doubling covers unbounded diameters;
    * fixed-round LP is the bounded-cost community pass).
    */
  val graphLabelProp = QueryDef(
    "graph_labelprop",
    (spark, dir) => {
      // sparsified slice (every 20th order, first line only): the full
      // bipartite graph has diameter ~2 and collapses to one community —
      // the slice keeps a real multi-community structure to verify
      val e0 = load(spark, dir, "orders")
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("u"))
        .join(load(spark, dir, "lineitem")
            .filter(col("l_linenumber") === 1)
            .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("v")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("u"), col("v"))
        .distinct()
      val adj = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
        .localCheckpoint() // reused by all 3 rounds
      var labels = adj.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node"))
      for (_ <- 1 to 3) {
        val msgs = adj
          .join(labels.select(col("node").as("v"), col("lbl")), Seq("v"))
          .groupBy(col("u").as("node")).agg(min(col("lbl")).as("nb"))
        labels = labels.join(msgs, Seq("node"), "left")
          .select(col("node"),
            least(col("lbl"), coalesce(col("nb"), col("lbl"))).as("lbl"))
      }
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("lbl"))
    },
    Some("""
      WITH e0 AS (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 20 = 0 AND l_linenumber = 1),
      edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges),
      m1 AS (SELECT e.u AS node, MIN(l.lbl) AS nb
             FROM edges e JOIN l0 l ON l.node = e.v GROUP BY e.u),
      l1 AS (SELECT l.node, LEAST(l.lbl, COALESCE(m.nb, l.lbl)) AS lbl
             FROM l0 l LEFT JOIN m1 m USING (node)),
      m2 AS (SELECT e.u AS node, MIN(l.lbl) AS nb
             FROM edges e JOIN l1 l ON l.node = e.v GROUP BY e.u),
      l2 AS (SELECT l.node, LEAST(l.lbl, COALESCE(m.nb, l.lbl)) AS lbl
             FROM l1 l LEFT JOIN m2 m USING (node)),
      m3 AS (SELECT e.u AS node, MIN(l.lbl) AS nb
             FROM edges e JOIN l2 l ON l.node = e.v GROUP BY e.u),
      l3 AS (SELECT l.node, LEAST(l.lbl, COALESCE(m.nb, l.lbl)) AS lbl
             FROM l2 l LEFT JOIN m3 m USING (node))
      SELECT lbl, COUNT(*) AS n_members FROM l3 GROUP BY lbl ORDER BY lbl"""),
    notes = "3 Pregel supersteps as join+agg; adjacency partitioned once, rounds shuffle only labels")

  /** K-CORE PEELING (k = 3, three fixed rounds): repeatedly drop nodes of
    * degree < k from the undirected customer↔supplier trade graph — the
    * standard dense-subgraph / influence-cohort primitive, and a third
    * iterative-graph shape (with [[graphBfs]]'s frontier and
    * [[graphPagerankIter]]'s damped recurrence) exercising loop-in-plan.
    * Nodes from the two key spaces are disambiguated arithmetically
    * (cust → 2k, supp → 2k+1); each round is one degree aggregate + two
    * semi-joins of the edge list against the keep set, localCheckpointed so
    * plans stay bounded. Output: per round, the keep-set size and the
    * undirected edge count among kept nodes — the peeling trajectory, which
    * converges when two consecutive rounds match.
    */
  val graphKcore = QueryDef(
    "graph_kcore",
    (spark, dir) => {
      val e0 = load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(load(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
      var e = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
        .localCheckpoint()
      // r18: examined and deliberately LEFT in the r16 shape after three
      // measured rewrites all regressed or tied on interleaved same-window
      // A/Bs (old 2.90/3.71 s min-of-3 vs: window-derived degrees 4.10 —
      // the windows shuffle the edges twice per round where the broadcast
      // semi-joins never shuffle them; lazy keep + scalar-collect rounds
      // 4.19-4.31 — the scalar job re-runs the degree aggregate keep's
      // checkpoint exists to pay once; keep checkpoint + scalar-collect
      // tail 3.58-4.10 — a tie inside window noise with more moving
      // parts). The 2-checkpoint round + lazy union tail stands.
      val rounds = (1 to 3).map { i =>
        // keep-set materialized once per round: it is referenced three
        // times (both semi-joins + the summary count) and would otherwise
        // re-run the full degree aggregate for each reference. It is the
        // small side (nodes, not edges) — cheap to pin at any scale.
        val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= 3).select(col("u"))
          .localCheckpoint()
        e = e.join(keep, Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .localCheckpoint()
        keep.agg(count(lit(1)).as("nodes_kept"))
          .crossJoin(broadcast(
            e.agg((count(lit(1)) / 2).cast("long").as("edges_und"))))
          .select(lit(i.toLong).as("iter"), col("nodes_kept"),
            col("edges_und"))
      }
      rounds.reduce(_ unionAll _).orderBy(col("iter"))
    },
    Some("""
      WITH e0 AS (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      d0 AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      k1 AS (SELECT u FROM d0 GROUP BY u HAVING COUNT(*) >= 3),
      d1 AS (SELECT u, v FROM d0
             WHERE u IN (SELECT u FROM k1) AND v IN (SELECT u FROM k1)),
      k2 AS (SELECT u FROM d1 GROUP BY u HAVING COUNT(*) >= 3),
      d2 AS (SELECT u, v FROM d1
             WHERE u IN (SELECT u FROM k2) AND v IN (SELECT u FROM k2)),
      k3 AS (SELECT u FROM d2 GROUP BY u HAVING COUNT(*) >= 3),
      d3 AS (SELECT u, v FROM d2
             WHERE u IN (SELECT u FROM k3) AND v IN (SELECT u FROM k3))
      SELECT CAST(1 AS BIGINT) AS iter,
             (SELECT COUNT(*) FROM k1) AS nodes_kept,
             (SELECT COUNT(*) // 2 FROM d1) AS edges_und
      UNION ALL
      SELECT 2, (SELECT COUNT(*) FROM k2), (SELECT COUNT(*) // 2 FROM d2)
      UNION ALL
      SELECT 3, (SELECT COUNT(*) FROM k3), (SELECT COUNT(*) // 2 FROM d3)
      ORDER BY iter"""),
    notes = "3 peeling rounds toward the 3-core; degree agg + two semi-joins per round, localCheckpointed")

  /** Shared sparsified trade slice for the convergence-driven graph twins:
    * every 20th order, first line only — the full bipartite graph has
    * diameter ~2 and a 3-core that stabilizes in one round, so the fixed-
    * round queries' graph would make "run to convergence" trivially
    * indistinguishable from "run 3 rounds". The slice peels for 8 rounds
    * (k=2, sf0.01) and label-propagates for 18 — measured, which is what
    * the fixpoint loop is for.
    */
  private def sparseTradeEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val e0 = load(spark, dir, "orders")
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("u"))
      .join(load(spark, dir, "lineitem")
          .filter(col("l_linenumber") === 1)
          .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("v")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("u"), col("v"))
      .distinct()
    e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
  }

  /** K-core peeling RUN TO CONVERGENCE (k = 2 on the sparsified slice):
    * the fixed-round [[graphKcore]]'s twin with the loop driven by a
    * fixpoint check instead of a round count — peel until a round removes
    * no node, bounded by a max-round guard of 16. The loop is a
    * [[FusedFixpoint]] over the edge frame with `alive` and `kept` flags.
    * The convergence scalar counts the rows of nodes leaving the keep set,
    * an O(1)-result distributed aggregate; the final nodes/edges are
    * computed relationally from the converged frame — only the round
    * counter is a driver value, and it is inherent to the loop.
    *
    * Oracle: the peel unrolled to the guard depth (generated SQL — 16
    * rounds of HAVING + induced-subgraph CTEs), with the convergence round
    * located by the count-equality rule over the per-round trajectory
    * (|keep_i| == |keep_(i-1)| ⟺ round i removed nothing).
    * Measured rounds: 3 (sf0.001) / 8 (sf0.01) / 10 (sf0.1) — the guard has
    * ≥60% headroom over every tested SF.
    */
  /** The peel loop, exposed for the fixpoint spec: returns the converged
    * induced edge set, the final keep set, and the executed round count. */
  private[graft] def kcoreConvergeState(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Long) =
    kcorePeelLoop(sparseTradeEdges(spark, dir))

  /** The peel loop over an arbitrary symmetric (u, v) edge frame — the
    * spec entry point (GraphConvergenceSpec drives a hand graph with a
    * KNOWN maximal 2-core through it; the unrolled oracle restates the
    * same peel arithmetic, so only an independent corpus can catch an
    * over-peeling bug that lands at a smaller valid sub-core).
    */
  private[graft] def kcorePeelLoop(edges0: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    // an endpoint's degree counts its alive edges only
    def degree(end: String) =
      sum(col("alive").cast("long")).over(Window.partitionBy(col(end)))
    val (last, rounds, _) = FusedFixpoint.pinned(
        edges0.select(col("u"), col("v"))) { edges =>
      requireSymmetric(edges, "kcorePeelLoop")
      // a round keeps the rows of every node kept last round, peeled edges
      // included (alive = false): a kept node whose neighbours all peeled
      // leaves the keep set one round later without an edge dropping, and
      // only its rows can show that. A round's metric counts the rows of
      // nodes leaving the keep set; keeps are nested, so 0 is the oracle's
      // |keep_i| == |keep_(i-1)| fixpoint test
      FusedFixpoint(edges.withColumn("alive", lit(true))
          .withColumn("kept", lit(true)), 16,
          count(when(!col("kept"), 1)), _ == 0) { s =>
        s.filter(col("kept"))
          .withColumn("du", degree("u")).withColumn("dv", degree("v"))
          .withColumn("kept", col("du") >= 2)
          .withColumn("alive", col("alive") && col("kept") && col("dv") >= 2)
      }
    }
    (last.filter(col("alive")).select(col("u"), col("v")),
      last.filter(col("kept")).select(col("u")).distinct(), rounds)
  }

  /** Rejects an edge frame in which some (u, v) lacks its (v, u): the
    * convergence loops read an undirected graph, and PageRank and label
    * propagation need an in-edge at every node, or a round's step silently
    * drops that node's row from the state and from the round's metric. */
  private[graft] def requireSymmetric(edges: org.apache.spark.sql.DataFrame,
      loop: String): Unit = {
    // per unordered pair: is it present forward, backward? (a self-loop is
    // neither, so it passes)
    val lo = least(col("u"), col("v"))
    val hi = greatest(col("u"), col("v"))
    require(edges.groupBy(lo, hi)
        .agg(max((col("u") < col("v")).cast("int")).as("fwd"),
          max((col("u") > col("v")).cast("int")).as("bwd"))
        .filter(col("fwd") =!= col("bwd")).isEmpty,
      s"$loop needs a symmetric edge frame: every (u, v) with its (v, u)")
  }

  val graphKcoreConverge = QueryDef(
    "graph_kcore_converge",
    (spark, dir) => {
      val (e, keep, rounds) = kcoreConvergeState(spark, dir)
      keep.agg(count(lit(1)).as("nodes_kept"))
        .crossJoin(broadcast(
          e.agg((count(lit(1)) / 2).cast("long").as("edges_und"))))
        .select(lit(rounds).as("rounds"), col("nodes_kept"), col("edges_und"))
    },
    Some(kcoreConvergeOracle),
    notes = "fixpoint-driven peel (k=2, sparse slice): loop until a round removes nothing, guard 16; oracle = peel unrolled to guard depth, convergence row selected by the same count-equality rule")

  /** The unrolled-peel oracle for [[graphKcoreConverge]]: DuckDB's recursive
    * CTEs cannot aggregate over the recursive reference (degree counting is
    * one), so the loop is unrolled to the Spark-side guard depth and the
    * convergence round is selected from the per-round (nodes, edges)
    * trajectory — first round whose keep count equals the previous round's.
    * Rounds past convergence are no-op copies, so the unroll is always
    * well-defined; generated, because 16 hand-written round pairs would be
    * the one thing worse than generated SQL.
    *
    * Guard-hit parity (ADVICE r11): if no round converges by the guard
    * depth the loop exits with (rounds=16, k16, d16) — so the oracle's
    * `OR iter = $depth` fallback selects the same guard-depth trajectory
    * row instead of returning zero rows, mirroring the loop exactly. (At
    * convergence-exactly-at-16 both predicates pick the same row: d16 is
    * d15 filtered by k16 = k15, an identity filter at the fixpoint.)
    */
  private lazy val kcoreConvergeOracle: String = {
    val depth = 16
    // AS MATERIALIZED on every chained CTE: without it DuckDB inlines each
    // d_{i-1} reference (two per round), re-expanding the whole chain —
    // exponential scans that exhaust file handles by depth 16
    val head = """
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 20 = 0 AND l_linenumber = 1),
      d0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)"""
    val roundCtes = (1 to depth).map { i =>
      s"""      k$i AS MATERIALIZED (SELECT u FROM d${i - 1} GROUP BY u HAVING COUNT(*) >= 2),
      d$i AS MATERIALIZED (SELECT u, v FROM d${i - 1}
             WHERE u IN (SELECT u FROM k$i) AND v IN (SELECT u FROM k$i))"""
    }.mkString(",\n")
    val round0 =
      "      SELECT 0 AS iter, (SELECT COUNT(DISTINCT u) FROM d0) AS nodes," +
        " (SELECT COUNT(*) // 2 FROM d0) AS edges"
    val trajectory = (round0 +: (1 to depth).map { i =>
      s"      SELECT $i, (SELECT COUNT(*) FROM k$i)," +
        s" (SELECT COUNT(*) // 2 FROM d$i)"
    }).mkString("\n      UNION ALL\n")
    s"""$head,
$roundCtes,
      c AS (
$trajectory),
      t AS (SELECT iter, nodes, edges,
                   LAG(nodes) OVER (ORDER BY iter) AS prev FROM c)
      SELECT CAST(iter AS BIGINT) AS rounds,
             CAST(nodes AS BIGINT) AS nodes_kept,
             CAST(edges AS BIGINT) AS edges_und
      FROM t WHERE nodes = prev OR iter = $depth ORDER BY iter LIMIT 1"""
  }

  /** Min-label propagation RUN TO CONVERGENCE: [[graphLabelProp]]'s twin
    * with the synchronous Pregel loop driven by a moved-labels fixpoint
    * (propagate until no label changes, guard 40) instead of 3 fixed
    * supersteps. Kept PURE synchronous LP — one hop per round, no pointer
    * doubling — so the loop count is the graph's true propagation depth;
    * the diameter-killing accelerated variant is already proven by
    * [[graft.ops.TextQueries2.componentLabels]]. The moved count rides the
    * same [[FusedFixpoint]] block that steps the labels (one extra column,
    * no second scan). At the fixpoint every node holds its component's
    * minimum id, so the oracle is exact connected components (recursive-CTE
    * min-reach), and the round count is pinned too: sync LP needs
    * max-BFS-distance-from-the-component-minimum + 1 rounds (the +1 is the
    * confirming round that moves nothing), which the oracle computes with a
    * second recursive CTE. Measured: 6 / 18 / 22 rounds at sf0.001/0.01/0.1,
    * matching the formula at all three.
    *
    * Guard-hit semantics (ADVICE r11, deliberate asymmetry with
    * [[kcoreConvergeOracle]]'s fallback): this oracle derives the fixpoint
    * AND the round count INDEPENDENTLY of the loop (exact CC min-reach +
    * BFS-depth formula) — the house rule after the r11 BPE lesson, because
    * an oracle that mirrors the loop cannot catch shared-logic bugs. A
    * trajectory fallback would surrender that independence, so guard
    * exhaustion (loop guard 40, oracle BFS cap 60) is INTENDED to surface
    * loudly as an oracle mismatch: a graph whose propagation depth exceeds
    * the guard is a fixture-contract violation (measured depth has ≥45%
    * headroom at every SF), not a state to paper over.
    */
  /** One synchronous min-LP superstep: gather MIN neighbor label, merge
    * with LEAST, and carry a `moved` marker column. Shared by the loop and
    * the fixpoint spec (which runs one extra step and asserts moved = 0).
    */
  private[graft] def labelPropStep(adj: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val msgs = adj
      .join(labels.select(col("node").as("v"), col("lbl")), Seq("v"))
      .groupBy(col("u").as("node")).agg(min(col("lbl")).as("nb"))
    labels.join(msgs, Seq("node"), "left")
      .select(col("node"),
        least(col("lbl"), coalesce(col("nb"), col("lbl"))).as("lbl"),
        (col("nb") < col("lbl")).cast("long").as("moved"))
  }

  /** The LP loop, exposed for the fixpoint spec: returns the converged
    * (node, lbl) table, the adjacency, and the round count. */
  private[graft] def labelPropConvergeState(
      spark: org.apache.spark.sql.SparkSession, dir: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long) =
    labelPropLoop(sparseTradeEdges(spark, dir))

  /** The LP loop over an arbitrary symmetric (u, v) edge frame — the spec
    * entry point (the odd-round test drives a hand path graph through it).
    * Returns the edge frame itself as the adjacency for the spec's extra
    * superstep.
    */
  private[graft] def labelPropLoop(edges0: org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long) = {
    // labelPropStep left-joins onto its input labels, so no superstep
    // drops a node from the state
    val (labels, rounds, _) =
      FusedFixpoint.pinned(edges0.repartition(col("u"))) { adj =>
        requireSymmetric(adj, "labelPropLoop")
        FusedFixpoint(
          adj.select(col("u").as("node")).distinct().withColumn("lbl", col("node")),
          40, sum(col("moved")), _ == 0)(labelPropStep(adj, _))
      }
    (labels.select(col("node"), col("lbl")), edges0, rounds)
  }

  val graphLabelPropConverge = QueryDef(
    "graph_labelprop_converge",
    (spark, dir) => {
      val (labels, _, rounds) = labelPropConvergeState(spark, dir)
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
        .withColumn("rounds", lit(rounds))
        .orderBy(col("lbl"))
    },
    Some("""
      WITH RECURSIVE
      e0 AS (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 20 = 0 AND l_linenumber = 1),
      edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      reach(id, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
      comp AS (SELECT id, MIN(r) AS root FROM reach GROUP BY id),
      bfs(node, d) AS (
        SELECT root, 0 FROM (SELECT DISTINCT root FROM comp)
        UNION
        SELECT e.v, bfs.d + 1 FROM bfs JOIN edges e ON e.u = bfs.node
        WHERE bfs.d < 60),
      md AS (SELECT node, MIN(d) AS d FROM bfs GROUP BY node),
      r AS (SELECT CAST(MAX(d) + 1 AS BIGINT) AS rounds FROM md)
      SELECT root AS lbl, COUNT(*) AS n_members,
             (SELECT rounds FROM r) AS rounds
      FROM comp GROUP BY root ORDER BY lbl"""),
    notes = "pure sync LP to fixpoint (moved-sum convergence scalar, guard 40); fixpoint = connected-component min labels, rounds = max BFS dist from component min + 1 — both stated independently by the oracle")

  // declared BEFORE graphPagerankConverge: its oracle (a lazy val forced at
  // QueryDef init) reads this — a later declaration would still be 0
  private val PrConvergeGuard = 40

  /** DAMPED PAGERANK RUN TO CONVERGENCE — completes the convergence-driven
    * graph family (kcore = monotone peel fixpoint, LP = exact-label
    * fixpoint, this = CONTRACTION-mapping stop): iterate the integer-bp
    * recurrence of [[graphPagerankIter]] (rank' = 1500 + (85·Σ(rank div
    * outdeg)) div 100, exact Long arithmetic in a pinned order, so chained
    * iterations stay bit-identical cross-engine) on the sparsified slice
    * until the L1 drift Σ|rank_i − rank_{i−1}| falls below 100·|nodes| —
    * mean per-node drift under 1% of the initial 10000 bp mass, a
    * data-relative threshold like the BPE quarter rule. The graph is
    * symmetric, so every node has out- AND in-degree ≥ 1: no dangling
    * mass, every iteration's join is total, and the L1 join is exact.
    *
    * Loop discipline (the family contract, [[FusedFixpoint]]): each round
    * steps the ranks AND carries the |Δ| column, so the L1 convergence
    * scalar (an O(1)-result distributed aggregate, the LP moved-sum
    * pattern) reads the block checkpoint instead of re-running the step;
    * the iteration-invariant edge list is materialized once. The per-block
    * checkpoint is the unbounded-loop rule — the fixed-depth
    * fuse-it-into-one-job optimization belongs to [[graphPagerankIter]],
    * where the depth is known at authoring time.
    *
    * Oracle: the recurrence unrolled to the guard depth with the same
    * L1-trajectory stop rule; guard exhaustion falls back to the
    * guard-depth row (`COALESCE(stop, guard)`) exactly as the loop exits
    * with rank_guard — the kcore-style fallback is correct here because
    * this oracle SHARES the recurrence (an unroll cannot catch shared
    * recurrence bugs anyway; GraphConvergenceSpec carries the independent
    * contraction/fixpoint assertions), unlike LP's independently-derived
    * oracle where a fallback would surrender the independence.
    */
  /** The PR loop, exposed for the convergence spec: returns the converged
    * (node, rank_bp) table, the round count, and the final L1 drift. */
  private[graft] def pagerankConvergeState(
      spark: org.apache.spark.sql.SparkSession, dir: String):
      (org.apache.spark.sql.DataFrame, Long, Long) =
    // Measured and rejected r17: disabling AQE for the loop (static plans,
    // one scheduler job per materialization instead of one per exchange)
    // reads 25.5 s vs 6.7 — the static 32-partition stages pay the host's
    // per-TASK fixed cost 32× per exchange, far more than AQE's ~35 ms
    // per-stage driver latency; AQE's coalesce-to-one-task is load-bearing
    // on KB-sized loop frames.
    pagerankLoop(sparseTradeEdges(spark, dir))

  /** The PR loop over an arbitrary symmetric (u, v) edge frame — the spec
    * entry point (GraphConvergenceSpec replays a hand graph through it and
    * compares against a driver-side integer reference implementation of
    * the same recurrence; the unrolled oracle restates the recurrence, so
    * only an independent implementation can catch a shared-arithmetic
    * bug).
    */
  private[graft] def pagerankLoop(edges0: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long, Long) = {
    import org.apache.spark.sql.expressions.Window
    FusedFixpoint.pinned(edges0.select(col("u"), col("v"))
        .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("u"))))
    ) { edges =>
      requireSymmetric(edges, "pagerankLoop")
      val ranks = edges.select(col("u").as("node")).distinct()
        .withColumn("rank_bp", lit(10000L))
      val eps = 100L * ranks.count()
      // one recurrence step: (node, rank' = 1500 + (85·Σ(rank div outdeg))
      // div 100, |Δ|). Symmetry gives every node an in-edge, so both joins
      // are total: no node (nor its |Δ|) drops out of the state or the L1
      val (last, rounds, l1) = FusedFixpoint(ranks, PrConvergeGuard,
          sum(col("delta")), _ < eps) { r =>
        edges.join(r, col("u") === col("node"))
          .select(col("v"), expr("rank_bp div outdeg").as("contrib"))
          .groupBy(col("v"))
          .agg((lit(1500L) + expr("(85L * sum(contrib)) div 100L")).as("rb"))
          // the same projection of `r` as the first join reads (no alias),
          // so both joins share one exchange of the state
          .join(r.select(col("node"), col("rank_bp")), col("v") === col("node"))
          .select(col("node"), col("rb").as("rank_bp"),
            abs(col("rb") - col("rank_bp")).as("delta"))
      }
      (last.select(col("node"), col("rank_bp")), rounds, l1)
    }
  }

  val graphPagerankConverge = QueryDef(
    "graph_pagerank_converge",
    (spark, dir) => {
      val (ranks, rounds, l1) = pagerankConvergeState(spark, dir)
      ranks.orderBy(col("rank_bp").desc, col("node")).limit(20)
        .select(col("node"), col("rank_bp"),
          lit(rounds).as("rounds"), lit(l1).as("l1_bp"))
    },
    Some(pagerankConvergeOracle),
    notes = "L1-delta-driven damped PageRank (integer bp, sparse slice): iterate until mean per-node drift < 1% of initial mass, guard 40; oracle = recurrence unrolled to guard depth, stop round selected by the same L1 rule with a guard-depth fallback")

  /** The unrolled-recurrence oracle for [[graphPagerankConverge]]: one
    * MATERIALIZED rank CTE + one L1 scalar per round to the guard depth
    * (the kcore lesson — without MATERIALIZED, DuckDB re-inlines each
    * chained reference and the scan tree goes exponential), the stop round
    * = first iter whose L1 < 100·|nodes| with `COALESCE(…, guard)` for
    * guard exhaustion, and the selected round's top-20 ranks read from a
    * UNION ALL of the per-round tables.
    */
  private lazy val pagerankConvergeOracle: String = {
    val g = PrConvergeGuard
    val head = """
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 20 = 0 AND l_linenumber = 1),
      edges AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM e0
        UNION ALL SELECT v AS src, u AS dst FROM e0),
      deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      eps AS (SELECT 100 * COUNT(*) AS e FROM deg),
      r0 AS MATERIALIZED (SELECT src AS node, CAST(10000 AS BIGINT) AS rank_bp FROM deg)"""
    val roundCtes = (1 to g).map { i =>
      s"""      r$i AS MATERIALIZED (
        SELECT e.dst AS node,
               CAST(1500 + (85 * SUM(r.rank_bp // d.outdeg)) // 100 AS BIGINT) AS rank_bp
        FROM edges e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.node = e.src
        GROUP BY e.dst),
      l$i AS MATERIALIZED (
        SELECT CAST(SUM(ABS(a.rank_bp - b.rank_bp)) AS BIGINT) AS l1
        FROM r$i a JOIN r${i - 1} b ON a.node = b.node)"""
    }.mkString(",\n")
    val traj = (1 to g)
      .map(i => s"      SELECT $i AS iter, (SELECT l1 FROM l$i) AS l1")
      .mkString("\n      UNION ALL\n")
    val allRanks = (1 to g)
      .map(i => s"      SELECT $i AS iter, node, rank_bp FROM r$i")
      .mkString("\n      UNION ALL\n")
    s"""$head,
$roundCtes,
      traj AS (
$traj),
      stop AS (SELECT CAST(COALESCE(
                 (SELECT MIN(iter) FROM traj, eps WHERE l1 < e), $g)
               AS BIGINT) AS s FROM (VALUES (1))),
      allr AS (
$allRanks)
      SELECT node, rank_bp, s AS rounds,
             (SELECT l1 FROM traj WHERE iter = s) AS l1_bp
      FROM allr, stop WHERE iter = s
      ORDER BY rank_bp DESC, node LIMIT 20"""
  }

  /** Link prediction over the co-purchase part graph (Brand#11 — the
    * `graph_triangles` corpus): for every NON-adjacent pair with at least
    * one common neighbor, the resource-allocation index
    * RA(u,w) = Σ_{v ∈ N(u)∩N(w)} 1/deg(v) (Zhou–Lü–Zhang 2009) in integer
    * basis points (10000 DIV deg — float RA would be summation-order-
    * dependent cross-engine), plus the common-neighbor count — the
    * "which edge appears next" primitive of recommender / knowledge-graph
    * completion pipelines, and the one graph modality the battery lacked
    * (ranking ABSENT edges; everything else scores present ones).
    *
    * Scale shape: candidates come from ONE wedge self-join on the shared
    * neighbor (the 2-hop path join — identical economics to
    * `graph_triangles`' wedge stage; fan-out is Σ deg(v)², which
    * production bounds with a hub-degree cap the same way the triangle
    * count bounds it with orientation); the score is one hash aggregate
    * on the (u,w) pair key; existing edges leave via a LEFT ANTI join on
    * the canonical u<w key. No adjacency matrix, no driver loop; the
    * edge list is localCheckpointed once and reused by degree, wedge,
    * and anti stages (the `graph_triangles` persist-the-invariant
    * pattern).
    */
  val graphLinkpred = QueryDef(
    "graph_linkpred",
    (spark, dir) => {
      val sel = load(spark, dir, "part")
        .filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("pk"))
      val items = load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(sel, col("l_partkey") === col("pk"))
        .select(col("ok"), col("pk"))
        .distinct()
      val edges = items.as("a").join(items.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
        .localCheckpoint() // reused 3×: degree, wedge (via und), anti
      val und = edges.unionAll(
        edges.select(col("v").as("u"), col("u").as("v")))
      val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .select(col("u").as("x"), col("d"))
      val wedges = und.as("e1").join(und.as("e2"),
          col("e1.v") === col("e2.u") && col("e1.u") < col("e2.v"))
        .select(col("e1.u").as("u"), col("e1.v").as("mid"),
          col("e2.v").as("w"))
      val scored = wedges
        .join(deg, col("mid") === col("x"))
        .groupBy(col("u"), col("w"))
        .agg(count(lit(1)).as("cn"),
          sum(expr("10000L div d")).as("ra_bp"))
      scored.as("s").join(edges.as("e"),
          col("s.u") === col("e.u") && col("s.w") === col("e.v"),
          "left_anti")
        .orderBy(col("ra_bp").desc, col("cn").desc, col("u"), col("w"))
        .limit(50)
    },
    Some("""
      WITH sel AS (SELECT p_partkey AS pk FROM part WHERE p_brand = 'Brand#11'),
      items AS (
        SELECT DISTINCT l_orderkey AS ok, pk
        FROM lineitem JOIN sel ON l_partkey = pk),
      edges AS (
        SELECT DISTINCT a.pk AS u, b.pk AS v
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk),
      und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
      deg AS (SELECT u AS x, COUNT(*) AS d FROM und GROUP BY u),
      wedges AS (
        SELECT e1.u AS u, e1.v AS mid, e2.v AS w
        FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u < e2.v),
      scored AS (
        SELECT u, w, COUNT(*) AS cn,
               CAST(SUM(10000 // d) AS BIGINT) AS ra_bp
        FROM wedges JOIN deg ON mid = x GROUP BY u, w)
      SELECT u, w, cn, ra_bp FROM scored s
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = s.u AND e.v = s.w)
      ORDER BY ra_bp DESC, cn DESC, u, w LIMIT 50"""),
    notes = "resource-allocation link prediction (integer-bp RA + common-neighbor count) over non-adjacent 2-hop pairs; one wedge join + one pair aggregate + one anti join")

  val all: Seq[QueryDef] = Seq(q13CustDist, joinFullOuter, q15TopSupp,
    q8Share, q20Excess, q21SoleLate, aggSalted, joinSalted, graphPagerank,
    graphPagerankIter, graphTriangles, graphBfs, joinDivision, graphLabelProp,
    graphKcore, graphKcoreConverge, graphLabelPropConverge,
    graphPagerankConverge, graphLinkpred)
}
